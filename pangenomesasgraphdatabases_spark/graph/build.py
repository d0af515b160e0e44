"""Pangenome graph construction: the Spark-first re-expression of
02_CypherScripts/01_creatingDatabase.cypher + 02_addNucleotideComposition
Metrics.cypher.

The Neo4j build is a hand-sequenced set of MERGE statements with write
batching; here the whole thing is one declarative DAG over vertex/edge
DataFrames.  Dominant reference costs (cluster NEIGHBOUR edges 898 s,
CLUSTER_IN_STRAIN 518 s — BASELINE.md) become plain shuffles.

Scale notes (100 TB): features partition by strain for all genome-order
windows; ortholog/cluster joins shuffle on feature_id/cluster_id (or
bucket both sides in a persisted deployment); strain and cluster dims
are small -> broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F


@dataclass
class PangenomeGraph:
    """Vertex/edge DataFrames of the labeled property graph."""

    features: DataFrame
    clusters: DataFrame
    strains: DataFrame
    ortholog: DataFrame
    feature_neighbour: DataFrame
    cluster_neighbour: DataFrame
    feature_in_strain: DataFrame
    cluster_in_strain: DataFrame


def genome_order() -> WindowSpec:
    """Features in genome order: per strain, by start, ties by id.  A
    function, not a module constant: a WindowSpec needs an active
    SparkContext."""
    return Window.partitionBy("strain").orderBy("feature_start", "feature_id")


def load_feature_nodes(feature_nodes: DataFrame) -> DataFrame:
    """Typed FEATURE load (01_creatingDatabase.cypher:2-26).  The GC/CAI
    enrichment merge (02_addNucleotideCompositionMetrics.cypher:4-11)
    is joined onto the slim hub in build_graph."""
    return feature_nodes.select(
        F.col("Name").cast("string").alias("feature_id"),
        F.col("Start").cast("int").alias("feature_start"),
        F.col("End").cast("int").alias("feature_end"),
        F.col("Length").cast("int").alias("length"),
        F.col("Strand").cast("string").alias("strand"),
        F.col("Product").cast("string").alias("name"),
        F.col("Strain").cast("string").alias("strain"),
        F.col("Variation").cast("string").alias("variation"),
        F.nullif(F.col("FullSequences").cast("string"), F.lit("")).alias("full_sequence"),
        F.col("FeatureType").cast("string").alias("feature_type"),
    )


def load_cluster_nodes(cluster_nodes: DataFrame) -> DataFrame:
    """Typed CLUSTER load (01_creatingDatabase.cypher:29-54) including
    the split-and-filter feature_ids list (:39, operator F1)."""
    return cluster_nodes.select(
        F.col("allele_name").cast("string").alias("cluster_id"),
        F.col("consensus_product").cast("string").alias("description"),
        F.col("threshold").cast("int").alias("threshold"),
        F.col("number_genomes").cast("int").alias("number_genomes"),
        F.col("min_length").cast("int").alias("min_length"),
        F.col("max_length").cast("int").alias("max_length"),
        F.col("average_length").cast("double").alias("average_length"),
        F.filter(
            F.split(F.col("feature").cast("string"), ";"), lambda x: x != F.lit("0")
        ).alias("feature_ids"),
        F.lit(False).alias("lonely_cluster"),
        F.col("reference_locus").cast("string").alias("reference_locus"),
        F.col("Seq").cast("string").alias("reference_sequence"),
    )


# Fixed-point scale for exact GC/CAI accumulators.  Quantizing at 1e-5
# keeps integer sums-of-squares inside int64 for ~90k features/strain
# (GC<=100 -> xi<=1e7, xi^2<=1e14, 9.2e18/1e14 ~ 9e4 rows) while making
# per-strain stats independent of partitioning/aggregation order —
# double avg/stddev accumulate in shuffle order and differ in the last
# ulp between runs (and between engines, VERDICT r1).
_STAT_SCALE = 1e5


def _exact_stat_cols(col: str, prefix: str) -> list:
    """Exact accumulator aggregates for one metric column."""
    xi = F.round(F.col(col) * F.lit(_STAT_SCALE)).cast("bigint")
    return [
        F.sum(xi).cast("double").alias(f"_s_{prefix}"),
        F.sum(xi * xi).cast("double").alias(f"_ss_{prefix}"),
        F.count(col).cast("double").alias(f"_n_{prefix}"),
    ]


def _stat_select(prefix: str) -> tuple:
    """(avg, stddev_samp) derived from exact accumulators, original units."""
    s, ss, n = (F.col(f"_s_{prefix}"), F.col(f"_ss_{prefix}"), F.col(f"_n_{prefix}"))
    avg = F.when(n > 0, s / n / F.lit(_STAT_SCALE))
    sd = F.when(
        n > 1,
        F.sqrt((ss - s * s / n) / (n - F.lit(1.0))) / F.lit(_STAT_SCALE),
    )
    return avg, sd


def strain_nodes(features: DataFrame) -> DataFrame:
    """STRAIN nodes (distinct, the uniqueness constraint holds by
    construction) + per-strain avg/stDev GC & CAI enrichment
    (02_addNucleotideCompositionMetrics.cypher:13-28; Neo4j stDev is
    the sample stddev).  Stats come from exact fixed-point accumulators
    (see _STAT_SCALE) so repeated builds — and the DuckDB oracle —
    reproduce them bitwise."""
    acc = features.groupBy(F.col("strain").alias("name")).agg(
        *_exact_stat_cols("GC", "gc"), *_exact_stat_cols("CAI", "cai")
    )
    avg_gc, sd_gc = _stat_select("gc")
    avg_cai, sd_cai = _stat_select("cai")
    return acc.select(
        "name",
        avg_gc.alias("avg_GC"),
        sd_gc.alias("stDev_GC"),
        avg_cai.alias("avg_CAI"),
        sd_cai.alias("stDev_CAI"),
    )


def build_graph(
    spark: SparkSession,
    feature_nodes: DataFrame,
    cluster_nodes: DataFrame,
    composition: DataFrame | None = None,
    persist: bool = False,
) -> PangenomeGraph:
    """End-to-end graph build — one Catalyst DAG replacing the whole
    hand-sequenced Cypher script (SURVEY.md section 3.2).

    persist=True caches the one frame every output table derives from —
    use it when materializing the whole graph in one pass (build job /
    save_graph); leave off when only one output is consumed and
    Catalyst should fuse end-to-end.

    Plan shape (r3): ONE left join `features ⟕ explode(feature_ids)`
    simultaneously yields the ortholog edges (matched rows), the lonely
    set (null match, cypher:70-89), the lonely full_sequence
    null-rewrite (cypher:88), and the cluster-per-feature mapping that
    the neighbour windows, feature_type priority, and CLUSTER_IN_STRAIN
    consume.  The previous shape spent four separate 4.6M-row
    string-keyed shuffles on exactly those derivations (explode⋈features,
    the lonely anti-join, the null-rewrite join, fneigh⋈ortholog⋈ortholog
    — measured 13.3 s + 12.7 s of the 40 s build at 770×6000).  PIRATE
    invariant relied on throughout: a feature belongs to at most one
    gene family, so the join is 1:1 and `fc` has exactly one row per
    feature."""
    features0 = load_feature_nodes(feature_nodes)
    base_clusters = load_cluster_nodes(cluster_nodes)

    exploded = base_clusters.select(
        "cluster_id", F.explode("feature_ids").alias("feature_id")
    )
    comp_t = (
        composition.select(
            F.col("featureID").cast("string").alias("feature_id"),
            F.col("GC").cast("double").alias("GC"),
            F.col("CAI").cast("double").alias("CAI"),
        )
        if composition is not None
        else None
    )
    # The persisted hub is SLIM on purpose: it holds only the columns
    # its consumers read — lonely_flag, ortholog, lonely, prio, ref,
    # adj, strain_nodes, feature_in_strain and cluster_in_strain.
    # Payload columns (full_sequence, strand, variation, length, name)
    # stay out of every shuffle and out of the cache, where each scan
    # would count them as input; the r3 wide-hub variant that cached
    # them measured 2× slower than this shape.  The two joins share the
    # feature_id key, so the second reuses the first's partitioning
    # (one exchange per input, no re-shuffle between them).
    fc = features0.select("feature_id", "strain", "feature_start", "feature_type")
    if comp_t is not None:
        fc = fc.join(comp_t, "feature_id", "left")
    else:
        fc = fc.withColumn("GC", F.lit(None).cast("double")).withColumn(
            "CAI", F.lit(None).cast("double")
        )
    fc = (
        fc.join(exploded, "feature_id", "left")
        .withColumn("_is_lonely", F.col("cluster_id").isNull())
        # Lonely features become their own singleton cluster (cypher:70).
        .withColumn("cluster_id", F.coalesce("cluster_id", "feature_id"))
    )
    if persist:
        fc = fc.persist()

    lonely_flag = fc.select("feature_id", "_is_lonely", "GC", "CAI")
    # FEATURE nodes: full_sequence nulled for lonely features (cypher:88).
    # Unpersisted: one scan of the typed input + a join against the slim
    # cache, materialized only when the features table itself is read.
    features = (
        features0.join(lonely_flag, "feature_id", "left")
        .select(
            "feature_id",
            "feature_start",
            "feature_end",
            "length",
            "strand",
            "name",
            "strain",
            "variation",
            F.when(F.col("_is_lonely"), F.lit(None).cast("string"))
            .otherwise(F.col("full_sequence"))
            .alias("full_sequence"),
            "feature_type",
            "GC",
            "CAI",
        )
    )
    ortholog = fc.select("feature_id", "cluster_id")
    # Lonely CLUSTER rows keep the pre-null sequence as reference; the
    # lonely id set is usually tiny — AQE picks a broadcast join here.
    lonely = features0.join(
        fc.filter(F.col("_is_lonely")).select("feature_id"), "feature_id"
    ).select(
        F.col("feature_id").alias("cluster_id"),
        F.col("name").alias("description"),
        F.lit(50).alias("threshold"),
        F.lit(1).alias("number_genomes"),
        F.col("length").alias("min_length"),
        F.col("length").alias("max_length"),
        F.col("length").cast("double").alias("average_length"),
        F.array(F.col("feature_id")).alias("feature_ids"),
        F.lit(True).alias("lonely_cluster"),
        F.col("feature_id").alias("reference_locus"),
        F.col("full_sequence").alias("reference_sequence"),
    )

    prio = (
        fc.groupBy("cluster_id")
        .agg(
            F.max(
                F.when(F.col("feature_type") == "CDS", 3)
                .when(F.col("feature_type") == "tRNA", 2)
                .when(F.col("feature_type") == "pseudogene", 1)
            ).alias("prio")
        )
        .select(
            "cluster_id",
            F.when(F.col("prio") == 3, "CDS")
            .when(F.col("prio") == 2, "tRNA")
            .when(F.col("prio") == 1, "pseudogene")
            .alias("feature_type"),
        )
    )
    clusters = base_clusters.unionByName(lonely).join(prio, "cluster_id", "left")
    # Reference-sequence backfill (cypher:129-133), need-first (r15):
    # only clusters with a NULL reference_sequence look up a feature.
    # Joining the DERIVED features frame instead would be a 4.6M×4.6M
    # left join whose need-filter cannot push below the join, so the
    # whole features lineage re-executed inside the clusters table
    # (measured: the clusters noop paid seconds re-running a join that
    # produces a handful of need rows).  Here the need semi-filter is
    # applied to the RAW scan first (broadcast at runtime), and the
    # lonely null-rewrite (cypher:88) from the cached slim hub — same
    # effective sequence per locus by construction.
    need = (
        clusters.filter(F.col("reference_sequence").isNull())
        .select("reference_locus")
        .distinct()
    )
    ref = (
        features0.select(
            F.col("feature_id").alias("reference_locus"), "full_sequence"
        )
        .join(need, "reference_locus")
        .join(
            fc.select(
                F.col("feature_id").alias("reference_locus"), "_is_lonely"
            ),
            "reference_locus",
            "left",
        )
        .select(
            "reference_locus",
            F.when(F.col("_is_lonely"), F.lit(None).cast("string"))
            .otherwise(F.col("full_sequence"))
            .alias("_ref_full_seq"),
        )
    )
    clusters = (
        clusters.join(ref, "reference_locus", "left")
        .withColumn(
            "reference_sequence",
            F.coalesce("reference_sequence", "_ref_full_seq"),
        )
        .drop("_ref_full_seq")
    )
    w = genome_order()
    adj = (
        fc.select(
            "strain",
            "feature_id",
            "cluster_id",
            F.lag("feature_id").over(w).alias("src_feature_id"),
            F.lag("cluster_id").over(w).alias("src_cluster_id"),
        )
        .filter(F.col("src_feature_id").isNotNull())
    )
    # adj is NOT persisted: both consumers re-sort the slim cache (a
    # couple of seconds) — cheaper than writing a second 4.6M-row cache.
    fneigh = adj.select(
        "src_feature_id", F.col("feature_id").alias("dst_feature_id"), "strain"
    )
    cneigh = adj.groupBy(
        "src_cluster_id", F.col("cluster_id").alias("dst_cluster_id")
    ).agg(
        F.count(F.lit(1)).cast("int").alias("number_of_members"),
        F.sort_array(F.collect_list("strain")).alias("members"),
    )

    strains = strain_nodes(fc)  # strain/GC/CAI live in the slim cache
    feature_in_strain = fc.select("feature_id", "strain")
    cluster_in_strain = fc.select("cluster_id", "strain").distinct()

    return PangenomeGraph(
        features=features,
        clusters=clusters,
        strains=strains,
        ortholog=ortholog,
        feature_neighbour=fneigh,
        cluster_neighbour=cneigh,
        feature_in_strain=feature_in_strain,
        cluster_in_strain=cluster_in_strain,
    )
