"""Graph-build invariants from FIXTURES.md section 3."""

from __future__ import annotations

from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.graph import fixtures as fx


N_FEATURES = (
    fx.N_STRAINS * fx.N_BACKBONE + len(fx.INSERTION_STRAINS) * fx.N_ACCESSORY
)


def test_feature_count(pangenome):
    assert pangenome.features.count() == N_FEATURES


def test_every_feature_has_exactly_one_cluster(pangenome):
    # After the lonely-cluster pass every feature has exactly 1 ORTHOLOG
    # edge (01_creatingDatabase.cypher:61-89).
    assert pangenome.ortholog.count() == N_FEATURES
    assert pangenome.ortholog.select("feature_id").distinct().count() == N_FEATURES


def test_lonely_clusters(pangenome):
    lonely = pangenome.clusters.filter("lonely_cluster").collect()
    assert {r.cluster_id for r in lonely} == {"S05_00030", "S06_00031"}
    for r in lonely:
        assert r.number_genomes == 1
        assert r.reference_sequence is not None


def test_lonely_feature_full_sequence_nulled(pangenome):
    # SET f.full_sequence = NULL (cypher:88)
    rows = pangenome.features.filter(
        F.col("feature_id").isin("S05_00030", "S06_00031")
    ).collect()
    assert all(r.full_sequence is None for r in rows)


def test_feature_neighbour_edge_count(pangenome):
    # Intended semantics: #edges per strain = #features - 1.
    per_strain = dict(
        pangenome.feature_neighbour.groupBy("strain").count().collect()
    )
    for strain in fx.STRAINS:
        n_feat = fx.N_BACKBONE + (
            fx.N_ACCESSORY if strain in fx.INSERTION_STRAINS else 0
        )
        assert per_strain[strain] == n_feat - 1, strain


def test_no_cross_strain_edges(pangenome):
    # The reference's loop can leak cross-strain edges (pirateToDatabase
    # .py:314); ours must not.
    bad = pangenome.feature_neighbour.filter(
        F.split("src_feature_id", "_")[0] != F.split("dst_feature_id", "_")[0]
    ).count()
    assert bad == 0


def test_cluster_neighbour_members(pangenome):
    cn = pangenome.cluster_neighbour
    # number_of_members == size(members) (FIXTURES.md section 3 invariant)
    assert cn.filter(F.col("number_of_members") != F.size("members")).count() == 0
    # Anchor edge CORE_10 -> CORE_11 is direct in the 6 non-insertion
    # strains only.
    edge = cn.filter(
        (F.col("src_cluster_id") == fx.ANCHOR_A)
        & (F.col("dst_cluster_id") == fx.ANCHOR_B)
    ).collect()
    assert len(edge) == 1
    assert edge[0].number_of_members == fx.N_STRAINS - len(fx.INSERTION_STRAINS)
    # Insertion strains route CORE_10 -> ACC_1 instead.
    acc_edge = cn.filter(
        (F.col("src_cluster_id") == fx.ANCHOR_A)
        & (F.col("dst_cluster_id") == "ACC_1")
    ).collect()
    assert len(acc_edge) == 1
    assert sorted(acc_edge[0].members) == sorted(fx.INSERTION_STRAINS)


def test_cluster_feature_type_priority(pangenome):
    # CDS overwrite is last (cypher:121-127): backbone clusters are CDS,
    # the planted tRNA cluster (CORE_5 / ACC_4) is tRNA.
    rows = {
        r.cluster_id: r.feature_type
        for r in pangenome.clusters.select("cluster_id", "feature_type").collect()
    }
    assert rows["CORE_5"] == "tRNA"
    assert rows["ACC_4"] == "tRNA"
    assert rows["CORE_10"] == "CDS"


def test_reference_sequence_backfill(pangenome):
    # Every cluster has a reference_sequence after backfill (cypher:129).
    assert (
        pangenome.clusters.filter(F.col("reference_sequence").isNull()).count() == 0
    )


def test_membership_counts(pangenome):
    assert pangenome.feature_in_strain.count() == N_FEATURES
    # cluster_in_strain is distinct (MERGE): every backbone cluster in
    # every strain it appears in, once.
    cis = pangenome.cluster_in_strain
    assert cis.count() == cis.distinct().count()
    core10 = cis.filter(F.col("cluster_id") == "CORE_10").count()
    assert core10 == fx.N_STRAINS


def test_strain_stats(pangenome):
    rows = {r.name: r for r in pangenome.strains.collect()}
    assert set(rows) == set(fx.STRAINS)
    # Insertion strains average higher GC (accessory features at 70).
    assert rows["S01"].avg_GC > rows["S03"].avg_GC
    assert all(r.stDev_GC is not None for r in rows.values())


def test_persisted_hub_caches_only_the_columns_its_consumers_read(spark):
    """build_graph(persist=True) caches one slim hub that every output
    table derives from.  Each scan of the cache counts its whole block
    as input, so it must not carry payload columns no consumer reads
    (``name`` and ``length`` are read from the typed input instead).
    Synthetic inputs: a plan over the fixture's rows would also match
    the ``pangenome`` fixture's cached output tables."""
    from pangenomesasgraphdatabases_spark.graph.build import build_graph

    g = build_graph(spark, *fx.synthetic_feature_tables(spark, 3, 40), persist=True)
    leaves = g.ortholog._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    hubs = []
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "InMemoryRelation":
            hubs.append(leaf)
    assert len(hubs) == 1
    out = hubs[0].output()
    try:
        assert sorted(out.apply(i).name() for i in range(out.size())) == sorted(
            ["feature_id", "strain", "feature_start", "feature_type",
             "GC", "CAI", "cluster_id", "_is_lonely"]
        )
    finally:
        spark._jsparkSession.sharedState().cacheManager().uncacheQuery(
            spark._jsparkSession, hubs[0].cacheBuilder().logicalPlan(), False, True
        )
