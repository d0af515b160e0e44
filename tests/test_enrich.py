"""Enrichment flows: decode round-trip, composition metrics, BLAST
writeback, Newick distances, RGP post-analytics."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.graph import fixtures as fx
from pangenomesasgraphdatabases_spark.graph.enrich import (
    composition_metrics,
    enrich_clusters_with_blast,
    enrich_features_with_composition,
    reconstruct_full_sequences,
)
from pangenomesasgraphdatabases_spark.graph.fixtures import _seq
from pangenomesasgraphdatabases_spark.sources.newick import (
    leaf_distances,
    parse_newick,
    tree_distance_table,
)


def test_reconstruct_full_sequences_roundtrip(spark, pangenome):
    """decode(variation, ref) must reproduce the member's aligned seq
    (fixture encoded variation = encode(_seq(fid), _seq(cluster)))."""
    seqs = reconstruct_full_sequences(pangenome)
    rows = {r.feature_id: r.full_seq for r in seqs.collect()}
    # Clustered CDS member in a non-shifted strain:
    assert rows["S03_00012"] == _seq("S03_00012").replace("-", "")
    # Representative members decode to themselves too.
    assert len(rows) > 0


def test_composition_and_writeback(spark, pangenome):
    seqs = reconstruct_full_sequences(pangenome)
    comp = composition_metrics(seqs)
    r = comp.filter(F.col("featureID") == "S03_00012").collect()[0]
    seq = _seq("S03_00012")
    expect_gc = 100.0 * sum(c in "GCS" for c in seq) / len(seq)
    assert math.isclose(r.GC, expect_gc, rel_tol=1e-9)
    assert r.CAI is not None and 0 < r.CAI <= 1

    g2 = enrich_features_with_composition(pangenome, comp)
    strains = {s.name: s for s in g2.strains.collect()}
    assert set(strains) == set(fx.STRAINS)
    assert all(s.avg_GC is not None for s in strains.values())


def test_blast_parse_and_enrich(spark, pangenome):
    # The (cluster_id, title, score, evalue) surface of
    # seed_align.builtin_hits_as_blast_table.
    hits = spark.createDataFrame(
        [
            ("CORE_10", "Pseudomonas phage X", 123.4, 1e-30),
            ("CORE_10", "Phage Y", 50.1, 0.002),
        ],
        ["cluster_id", "title", "score", "evalue"],
    )
    enriched = enrich_clusters_with_blast(pangenome.clusters, hits)
    r = enriched.filter(F.col("cluster_id") == "CORE_10").collect()[0]
    assert r.hasBlastVirusHit is True
    assert r.blastTitlesVirus == ["Phage Y", "Pseudomonas phage X"]
    other = enriched.filter(F.col("cluster_id") == "CORE_11").collect()[0]
    assert other.hasBlastVirusHit is False


def test_newick_distances(spark):
    tree = "((A:1,B:2):0.5,(C:1.5,D:0.5):1);"
    d = leaf_distances(parse_newick(tree))
    assert math.isclose(d[("A", "B")], 3.0)
    assert math.isclose(d[("A", "C")], 1 + 0.5 + 1 + 1.5)
    df = tree_distance_table(spark, tree)
    assert df.count() == 12  # 6 pairs x 2 orientations
    row = df.filter("strain1 = 'B' and strain2 = 'D'").collect()[0]
    assert math.isclose(row.distance, 2 + 0.5 + 1 + 0.5)


def test_rgp_analysis(spark, pangenome):
    from pangenomesasgraphdatabases_spark.graph.rgp import find_rgps
    from pangenomesasgraphdatabases_spark.graph.rgp_analysis import (
        anchor_pair_distance_stats,
        complete_linkage_clusters,
        insertion_dice_similarity,
        insertion_ttests,
    )

    rgps = find_rgps(pangenome).cache()

    t = insertion_ttests(rgps).collect()
    assert len(t) == 2
    for r in t:
        # Accessory GC ~70 vs strain bg ~50.x => strongly positive t.
        assert r.insertion_avg_GC > 69
        assert r.t_GC > 3
        # ...and a correspondingly significant two-sided p-value.
        assert 0.0 <= r.p_GC < 0.05

    tree = "((S01:1,S02:1):2,(S03:1,(S04:1,S05:1):1):1,(S06:1,S07:1,S08:1):1);"
    dist = tree_distance_table(spark, tree)
    stats = anchor_pair_distance_stats(rgps, dist).collect()
    assert len(stats) == 1
    s = stats[0]
    assert s.n_pairs == 1  # S01-S02 only
    assert math.isclose(s.min_dist, 2.0)

    sim = insertion_dice_similarity(rgps).collect()
    assert len(sim) == 1  # identical cluster sets in S01 & S02
    assert math.isclose(sim[0].dice, 1.0)

    labels = complete_linkage_clusters(
        [("i1", "i2", 0.1), ("i1", "i3", 0.9), ("i2", "i3", 0.8)], threshold=0.3
    )
    assert labels["i1"] == labels["i2"]
    assert labels["i1"] != labels["i3"]


def test_core_clusters_per_group(spark, pangenome):
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.graph.rgp import find_rgps
    from pangenomesasgraphdatabases_spark.graph.rgp_analysis import (
        core_clusters_per_group,
    )

    rgps = find_rgps(pangenome)
    ins_ids = [
        r.ins_id
        for r in rgps.select(
            F.concat_ws(
                "|", "StrainName", "Anchor1ID", "Anchor2ID", F.col("InsertionStart")
            ).alias("ins_id")
        ).collect()
    ]
    groups = spark.createDataFrame([(i, 0) for i in ins_ids], ["ins_id", "group_id"])
    core = core_clusters_per_group(groups, rgps, pangenome.clusters).collect()
    # Both fixture insertions share the identical cluster set: anchors
    # + 6 accessory clusters, all present in 2/2 insertions.
    got = {r.cluster_id for r in core}
    assert got == {"CORE_10", "CORE_11"} | {f"ACC_{k}" for k in range(1, 7)}
    by_id = {r.cluster_id: r for r in core}
    assert by_id["ACC_1"].group_size == 2
    assert by_id["CORE_10"].number_genomes == 8
    assert by_id["ACC_3"].description == "consensus ACC_3"
