"""Genomic-island scan (03_analyses/GIsInStrain.ipynb cells 3-8+).

Reference flow: per strain, order features along the genome
(shortestPath trick — here a sort, J14/W2), z-score GC/CAI against the
strain's precomputed stats (W6), flag |z| >= 1.5 deviations (P8), then
trailing rolling windows: rolling(10).mean smoothing (W3),
rolling(20) deviation-count > 5 (W4), rolling(5) max(number_genomes)
<= accessory threshold (W5).

The reference collects the whole strain into pandas first; this stays
distributed — the window partitions by strain so a 770-strain (or
770k-strain) dataset scans in parallel.

Join order: features join the graph's ``ortholog`` table directly,
then the broadcast cluster dimension (cluster_id, number_genomes).
Joining a derived ``ortholog ⋈ clusters`` frame instead costs two
extra shuffles: the planner estimates a join's size as the product of
its inputs, so the derived frame never qualifies for a static
broadcast; both sides were shuffled by feature_id, and AQE turned that
SortMergeJoin into a broadcast only after both map stages had written.
Here the size rule decides ``features ⟕ ortholog`` from the scanned
files' statistics (a broadcast when small, a SortMergeJoin at scale);
while it broadcasts, the window's exchange on strain is the plan's only
shuffle.  PIRATE puts a feature in at most one gene family, so each
join keeps one row per feature; a feature with no ortholog or cluster
row keeps a null number_genomes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.graph.build import PangenomeGraph, genome_order

# GIsInStrain.ipynb's thresholds (P8, W3-W5 above).
Z_THRESH = 1.5
SMOOTH_WINDOW = 10
DEV_WINDOW = 20
DEV_COUNT = 5
CORE_WINDOW = 5


def gi_scan(graph: PangenomeGraph, core_max: int = 600) -> DataFrame:
    """Per-feature GI flags.  Returns one row per feature with genome
    ordinal, z-scores, rolling means, and the two run flags."""
    feats = graph.features.select(
        "feature_id", "strain", "feature_start", "feature_type", "GC", "CAI"
    )
    sizes = graph.clusters.select("cluster_id", "number_genomes")
    stats = graph.strains.select(
        F.col("name").alias("strain"), "avg_GC", "stDev_GC", "avg_CAI", "stDev_CAI"
    )

    df = (
        feats.join(graph.ortholog, "feature_id", "left")
        .join(F.broadcast(sizes), "cluster_id", "left")
        .join(F.broadcast(stats), "strain")
    )
    # A strain whose metric never varies has stDev 0: its z-scores are
    # null, as in the oracle's SQL division, where ANSI `/` would fail
    # the whole scan.
    z_gc = F.try_divide(F.col("GC") - F.col("avg_GC"), F.col("stDev_GC"))
    z_cai = F.try_divide(F.col("CAI") - F.col("avg_CAI"), F.col("stDev_CAI"))
    df = (
        df.withColumn("z_GC", z_gc)
        .withColumn("z_CAI", z_cai)
        .withColumn("dev_GC", (F.abs(F.col("z_GC")) >= Z_THRESH).cast("int"))
        .withColumn("dev_CAI", (F.abs(F.col("z_CAI")) >= Z_THRESH).cast("int"))
    )

    w = genome_order()
    smooth = w.rowsBetween(-(SMOOTH_WINDOW - 1), 0)
    dev = w.rowsBetween(-(DEV_WINDOW - 1), 0)
    core = w.rowsBetween(-(CORE_WINDOW - 1), 0)

    return df.select(
        "feature_id",
        "strain",
        "feature_start",
        F.row_number().over(w).alias("pos"),
        "z_GC",
        "z_CAI",
        # pandas rolling(n) parity: null until the frame holds n rows.
        F.when(
            F.count(F.lit(1)).over(smooth) == SMOOTH_WINDOW,
            F.avg("z_GC").over(smooth),
        ).alias("roll_mean_z_GC"),
        F.when(
            F.count(F.lit(1)).over(smooth) == SMOOTH_WINDOW,
            F.avg("z_CAI").over(smooth),
        ).alias("roll_mean_z_CAI"),
        (F.sum("dev_GC").over(dev) > DEV_COUNT).cast("int").alias("gc_dev_run"),
        (F.sum("dev_CAI").over(dev) > DEV_COUNT).cast("int").alias("cai_dev_run"),
        (F.max("number_genomes").over(core) <= core_max).cast("int").alias("accessory_run"),
    )
