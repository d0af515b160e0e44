"""Pangenome-domain queries with DuckDB oracles over the committed
fixture parquet (fixtures_data/* at the repo root) — oracle coverage for the
graph build, RGP, and GI-scan pipelines on domain-shaped data (the
star-schema isomorphs cover the same operators on the driver's tables).

These ignore sf_dir: the fixture is the deterministic domain dataset
(FIXTURES.md), readable by both engines at an absolute path.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.data import read_parquet
from pangenomesasgraphdatabases_spark.graph.build import PangenomeGraph, build_graph
from pangenomesasgraphdatabases_spark.graph.gi_scan import gi_scan
from pangenomesasgraphdatabases_spark.graph.rgp import find_rgps
from pangenomesasgraphdatabases_spark.queries.registry import register

FIX = str(Path(__file__).resolve().parents[2] / "fixtures_data")

# Shared oracle CTE block: graph construction in DuckDB SQL.
_GRAPH_CTES = f"""
    raw_features AS (
        SELECT Name AS feature_id, Start AS feature_start, "End" AS feature_end,
               Product AS name, Strain AS strain, FeatureType AS feature_type
        FROM '{FIX}/feature_nodes.parquet'
    ),
    comp AS (
        SELECT featureID AS feature_id, GC, CAI
        FROM '{FIX}/composition.parquet'
    ),
    ortho_base AS (
        SELECT unnest(list_filter(string_split(feature, ';'), x -> x != '0'))
                   AS feature_id,
               allele_name AS cluster_id
        FROM '{FIX}/cluster_nodes.parquet'
    ),
    cl AS (  -- every feature's single cluster (lonely fallback = own id)
        SELECT f.feature_id, coalesce(o.cluster_id, f.feature_id) AS cluster_id
        FROM raw_features f LEFT JOIN ortho_base o ON f.feature_id = o.feature_id
    ),
    clusters_nm AS (  -- number_genomes incl. lonely singletons
        SELECT allele_name AS cluster_id, number_genomes
        FROM '{FIX}/cluster_nodes.parquet'
        UNION ALL
        SELECT f.feature_id, 1 FROM raw_features f
        WHERE f.feature_id NOT IN (SELECT feature_id FROM ortho_base)
    ),
    fpos AS (
        SELECT f.*, c.GC, c.CAI,
               row_number() OVER (PARTITION BY f.strain
                                  ORDER BY f.feature_start, f.feature_id) AS pos
        FROM raw_features f JOIN comp c ON f.feature_id = c.feature_id
    ),
    fedges AS (
        SELECT strain,
               lag(feature_id) OVER (PARTITION BY strain
                   ORDER BY feature_start, feature_id) AS src,
               feature_id AS dst
        FROM raw_features
        QUALIFY src IS NOT NULL
    ),
    cedges AS (
        SELECT c1.cluster_id AS src_cluster_id, c2.cluster_id AS dst_cluster_id,
               CAST(count(*) AS INTEGER) AS number_of_members,
               list(e.strain ORDER BY e.strain) AS members
        FROM fedges e
        JOIN cl c1 ON e.src = c1.feature_id
        JOIN cl c2 ON e.dst = c2.feature_id
        GROUP BY 1, 2
    ),
    stats_acc AS (  -- exact fixed-point accumulators (build._STAT_SCALE)
        SELECT f.strain,
               CAST(sum(CAST(round(c.GC * 100000.0) AS BIGINT)) AS DOUBLE) AS s_gc,
               CAST(sum(CAST(round(c.GC * 100000.0) AS BIGINT)
                        * CAST(round(c.GC * 100000.0) AS BIGINT)) AS DOUBLE) AS ss_gc,
               CAST(count(c.GC) AS DOUBLE) AS n_gc,
               CAST(sum(CAST(round(c.CAI * 100000.0) AS BIGINT)) AS DOUBLE) AS s_cai,
               CAST(sum(CAST(round(c.CAI * 100000.0) AS BIGINT)
                        * CAST(round(c.CAI * 100000.0) AS BIGINT)) AS DOUBLE) AS ss_cai,
               CAST(count(c.CAI) AS DOUBLE) AS n_cai
        FROM raw_features f JOIN comp c ON f.feature_id = c.feature_id
        GROUP BY 1
    ),
    strain_stats AS (  -- identical double math to build._stat_select
        SELECT strain,
               CASE WHEN n_gc > 0 THEN s_gc / n_gc / 100000.0 END AS avg_GC,
               CASE WHEN n_gc > 1
                    THEN sqrt((ss_gc - s_gc * s_gc / n_gc) / (n_gc - 1.0))
                         / 100000.0 END AS sd_GC,
               CASE WHEN n_cai > 0 THEN s_cai / n_cai / 100000.0 END AS avg_CAI,
               CASE WHEN n_cai > 1
                    THEN sqrt((ss_cai - s_cai * s_cai / n_cai) / (n_cai - 1.0))
                         / 100000.0 END AS sd_CAI
        FROM stats_acc
    )
"""


def _fixture_graph(spark: SparkSession) -> PangenomeGraph:
    # persist=True: the RGP/GI queries read features/ortholog several
    # times; caching the shared frames halves the fixture query time
    # (12.7s -> 4.6s cold for pangenome_rgp).  The fixture is 332 rows
    # — cache pressure is nil.
    return build_graph(
        spark,
        read_parquet(spark, f"{FIX}/feature_nodes.parquet"),
        read_parquet(spark, f"{FIX}/cluster_nodes.parquet"),
        read_parquet(spark, f"{FIX}/composition.parquet"),
        persist=True,
    )


@register(
    "pangenome_cluster_neighbour",
    oracle=f"""
    WITH {_GRAPH_CTES}
    SELECT src_cluster_id, dst_cluster_id, number_of_members,
           array_to_string(members, ';') AS members
    FROM cedges
    """,
    tags=("W1", "A2", "J7", "graph-build"),
)
def pangenome_cluster_neighbour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-NEIGHBOUR aggregated adjacency on the domain fixture —
    the reference's slowest build step (898 s of Neo4j MERGE churn,
    01_creatingDatabase.cypher:91-106) as one groupBy.  members list
    stringified for the driver gate (ArrayType crashes its
    canonicalizer, VERDICT r1); the PangenomeGraph API keeps the array."""
    return _fixture_graph(spark).cluster_neighbour.withColumn(
        "members", F.array_join("members", ";")
    )


@register(
    "pangenome_strain_stats",
    oracle=f"""
    WITH {_GRAPH_CTES}
    SELECT strain AS name,
           round(avg_GC, 4) AS avg_GC,
           round(sd_GC, 4) AS stDev_GC,
           round(avg_CAI, 4) AS avg_CAI,
           round(sd_CAI, 4) AS stDev_CAI
    FROM strain_stats
    """,
    tags=("A1", "graph-build"),
)
def pangenome_strain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-strain GC/CAI aggregates written onto STRAIN nodes
    (02_addNucleotideCompositionMetrics.cypher:13-28)."""
    s = _fixture_graph(spark).strains
    return s.select(
        "name",
        F.round("avg_GC", 4).alias("avg_GC"),
        F.round("stDev_GC", 4).alias("stDev_GC"),
        F.round("avg_CAI", 4).alias("avg_CAI"),
        F.round("stDev_CAI", 4).alias("stDev_CAI"),
    )


@register(
    "pangenome_build_summary",
    oracle=f"""
    WITH {_GRAPH_CTES}
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM raw_features) AS n_features,
        (SELECT CAST(count(*) AS BIGINT) FROM cl) AS n_ortholog,
        (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) FROM cl) AS n_clusters,
        (SELECT CAST(count(*) AS BIGINT) FROM fedges) AS n_feature_edges,
        (SELECT CAST(count(*) AS BIGINT) FROM cedges) AS n_cluster_edges,
        (SELECT CAST(count(*) AS BIGINT)
         FROM (SELECT DISTINCT cluster_id, strain
               FROM cl JOIN raw_features USING (feature_id))) AS n_cluster_in_strain
    """,
    tags=("graph-build", "J16", "A13"),
)
def pangenome_build_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-graph cardinality invariants (FIXTURES.md section 3):
    count(ortholog) == count(features), membership sizes, edge counts."""
    g = _fixture_graph(spark)
    return (
        g.features.agg(F.count(F.lit(1)).alias("n_features"))
        .crossJoin(g.ortholog.agg(F.count(F.lit(1)).alias("n_ortholog")))
        .crossJoin(
            g.ortholog.agg(F.countDistinct("cluster_id").alias("n_clusters"))
        )
        .crossJoin(
            g.feature_neighbour.agg(F.count(F.lit(1)).alias("n_feature_edges"))
        )
        .crossJoin(
            g.cluster_neighbour.agg(F.count(F.lit(1)).alias("n_cluster_edges"))
        )
        .crossJoin(
            g.cluster_in_strain.agg(F.count(F.lit(1)).alias("n_cluster_in_strain"))
        )
    )


@register(
    "pangenome_rgp",
    oracle=f"""
    WITH {_GRAPH_CTES},
    undirected AS (
        SELECT src_cluster_id AS c1, dst_cluster_id AS c2, number_of_members
        FROM cedges
        UNION ALL
        SELECT dst_cluster_id, src_cluster_id, number_of_members FROM cedges
    ),
    nb_out AS (
        SELECT src_cluster_id AS c1, sum(number_of_members) AS nb
        FROM cedges GROUP BY 1
    ),
    anchors AS (
        SELECT DISTINCT u.c1, u.c2
        FROM undirected u
        JOIN clusters_nm k1 ON u.c1 = k1.cluster_id
        JOIN clusters_nm k2 ON u.c2 = k2.cluster_id
        JOIN nb_out n ON u.c1 = n.c1
        WHERE k1.number_genomes > 0.95 * 8 AND k2.number_genomes > 0.95 * 8
          AND u.c1 <> u.c2 AND 0.7 * n.nb < u.number_of_members
    ),
    memb AS (
        SELECT cl.cluster_id, p.strain, p.pos
        FROM cl JOIN fpos p ON cl.feature_id = p.feature_id
    ),
    cand AS (
        SELECT m1.strain, a.c1, a.c2, m1.pos AS pos1, m2.pos AS pos2
        FROM anchors a
        JOIN memb m1 ON a.c1 = m1.cluster_id
        JOIN memb m2 ON a.c2 = m2.cluster_id AND m1.strain = m2.strain
        WHERE m2.pos - m1.pos BETWEEN 5 AND 200
    ),
    nodes AS (
        SELECT c.*, p.pos, p.feature_start, p.feature_end, p.name,
               p.feature_type, p.GC, p.CAI, cl.cluster_id AS node_cluster_id,
               (p.name LIKE '%integrase%' OR p.name LIKE '%transposase%') AS mobile,
               p.pos BETWEEN c.pos1 + 1 AND c.pos2 - 1 AS interior
        FROM cand c
        JOIN fpos p ON c.strain = p.strain AND p.pos BETWEEN c.pos1 AND c.pos2
        JOIN cl ON p.feature_id = cl.feature_id
    ),
    agg AS (
        -- GC/CAI lists stringified as fixed-point 1e-4 ints; string
        -- lists joined as-is (ArrayType output crashes the driver's
        -- canonicalizer, VERDICT r1).  Genome-position order kept.
        SELECT strain, c1, c2, pos1, pos2,
               max(CASE WHEN mobile THEN 1 ELSE 0 END) AS has_mobile,
               min(CASE WHEN interior THEN feature_start END) AS InsertionStart,
               max(CASE WHEN interior THEN feature_end END) AS InsertionEnd,
               CAST(pos2 - pos1 - 1 AS INTEGER) AS InsertionNbFeatures,
               coalesce(array_to_string(list_transform(
                   list(GC ORDER BY pos) FILTER (WHERE interior),
                   x -> CAST(round(x * 10000.0) AS BIGINT)), ';'), '')
                   AS InsertionListGC,
               coalesce(array_to_string(list_transform(
                   list(CAI ORDER BY pos) FILTER (WHERE interior),
                   x -> CAST(round(x * 10000.0) AS BIGINT)), ';'), '')
                   AS InsertionListCAI,
               coalesce(array_to_string(list(node_cluster_id ORDER BY pos), ';'),
                        '') AS InsertionListClusterID,
               coalesce(array_to_string(list(name ORDER BY pos)
                        FILTER (WHERE mobile), ';'), '')
                   AS InsertionListMobileNames,
               CAST(sum(CASE WHEN feature_type = 'tRNA' THEN 1 ELSE 0 END)
                    AS BIGINT) AS InsertionNbTRNAs
        FROM nodes
        GROUP BY strain, c1, c2, pos1, pos2
    )
    SELECT a.strain AS StrainName,
           round(s.avg_GC, 4) AS StrainAvgGC,
           round(s.sd_GC, 4) AS StrainStDevGC,
           round(s.avg_CAI, 4) AS StrainAvgCAI,
           round(s.sd_CAI, 4) AS StrainStDevCAI,
           a.c1 AS Anchor1ID, a.c2 AS Anchor2ID,
           a.InsertionStart, a.InsertionEnd, a.InsertionNbFeatures,
           a.InsertionListGC, a.InsertionListCAI, a.InsertionListClusterID,
           a.InsertionListMobileNames, a.InsertionNbTRNAs
    FROM agg a JOIN strain_stats s ON a.strain = s.strain
    WHERE a.has_mobile = 1
    """,
    tags=("flagship", "J13", "A4", "W7", "F12", "rgp"),
)
def pangenome_rgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full RGP query (RGPs.ipynb cell 8) on the domain fixture;
    see graph/rgp.py for the interval-join formulation.  List columns
    stringified for the driver gate (GC/CAI as fixed-point 1e-4 ints,
    genome order kept); find_rgps itself keeps real arrays."""
    out = find_rgps(_fixture_graph(spark), n_strains=8)

    def _fp(col: str):
        return F.array_join(
            F.transform(
                F.col(col),
                lambda x: F.round(x * F.lit(10000.0)).cast("bigint").cast("string"),
            ),
            ";",
        )

    return out.select(
        "StrainName",
        F.round("StrainAvgGC", 4).alias("StrainAvgGC"),
        F.round("StrainStDevGC", 4).alias("StrainStDevGC"),
        F.round("StrainAvgCAI", 4).alias("StrainAvgCAI"),
        F.round("StrainStDevCAI", 4).alias("StrainStDevCAI"),
        "Anchor1ID",
        "Anchor2ID",
        "InsertionStart",
        "InsertionEnd",
        "InsertionNbFeatures",
        _fp("InsertionListGC").alias("InsertionListGC"),
        _fp("InsertionListCAI").alias("InsertionListCAI"),
        F.array_join("InsertionListClusterID", ";").alias("InsertionListClusterID"),
        F.array_join("InsertionListMobileNames", ";").alias("InsertionListMobileNames"),
        F.col("InsertionNbTRNAs").cast("bigint").alias("InsertionNbTRNAs"),
    )


@register(
    "pangenome_gi_scan",
    oracle=f"""
    WITH {_GRAPH_CTES},
    nm AS (
        SELECT cl.feature_id, k.number_genomes
        FROM cl JOIN clusters_nm k ON cl.cluster_id = k.cluster_id
    ),
    z AS (
        SELECT p.feature_id, p.strain, p.feature_start, p.pos,
               (p.GC - s.avg_GC) / s.sd_GC AS z_gc,
               (p.CAI - s.avg_CAI) / s.sd_CAI AS z_cai,
               n.number_genomes
        FROM fpos p
        JOIN strain_stats s ON p.strain = s.strain
        JOIN nm n ON p.feature_id = n.feature_id
    )
    SELECT feature_id, strain, pos,
           round(z_gc, 4) AS z_gc,
           CASE WHEN sum(CASE WHEN abs(z_gc) >= 1.5 THEN 1 ELSE 0 END)
                OVER (PARTITION BY strain ORDER BY feature_start, feature_id
                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) > 5
                THEN 1 ELSE 0 END AS gc_dev_run,
           CASE WHEN max(number_genomes)
                OVER (PARTITION BY strain ORDER BY feature_start, feature_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) <= 2
                THEN 1 ELSE 0 END AS accessory_run
    FROM z
    """,
    tags=("W2", "W4", "W5", "W6", "gi-scan"),
)
def pangenome_gi_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GI scan on the domain fixture (GIsInStrain.ipynb cells 3-8):
    accessory threshold 2 (clusters in <= 2 strains = the planted
    insertion), deviation window per the reference."""
    g = _fixture_graph(spark)
    out = gi_scan(g, core_max=2)
    return out.select(
        "feature_id",
        "strain",
        "pos",
        F.round("z_GC", 4).alias("z_gc"),
        "gc_dev_run",
        "accessory_run",
    )
