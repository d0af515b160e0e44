"""Physical-plan regression guards: pushdown, broadcasts, bucketed
co-located joins (the 100 TB story, asserted on actual plans)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"
FIXTURES = Path(__file__).resolve().parent.parent / "fixtures_data"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    from pangenomesasgraphdatabases_spark.queries.relational import threshold_filter

    plan = _plan(threshold_filter(spark, SF))
    assert "DataFilters: [" in plan
    assert "p_size" in plan.split("DataFilters")[1][:200]


def test_multiway_join_broadcasts_dims(spark):
    from pangenomesasgraphdatabases_spark.queries.relational import (
        multiway_join_revenue,
    )

    plan = _plan(multiway_join_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2


def test_flagship_single_shuffle(spark):
    from pangenomesasgraphdatabases_spark.queries.flagship import gi_scan_flagship

    plan = _plan(gi_scan_flagship(spark, SF))
    # All windows share the l_suppkey partitioning: exactly one
    # shuffle exchange in the whole plan.
    assert plan.count("Exchange hashpartitioning") <= 1


def test_gi_scan_shuffles_features_once(spark, tmp_path_factory):
    """gi_scan joins features straight to the saved ortholog table and
    the broadcast cluster dimension, so the strain window's exchange is
    the only one while the tables are small (a join of a derived
    ortholog-cluster frame is sized as a product, never broadcast
    statically, and costs two feature_id shuffles).  With broadcasts
    off (the at-scale shape) nothing is shuffled by cluster_id.  The
    332-row fixture broadcasts either way, hence the larger synthetic
    graph."""
    import re

    from pangenomesasgraphdatabases_spark.graph.build import build_graph
    from pangenomesasgraphdatabases_spark.graph.fixtures import synthetic_feature_tables
    from pangenomesasgraphdatabases_spark.graph.gi_scan import gi_scan
    from pangenomesasgraphdatabases_spark.graph.storage import load_graph, save_graph

    path = str(tmp_path_factory.mktemp("gi_scan_plan"))
    save_graph(build_graph(spark, *synthetic_feature_tables(spark, 20, 500)), path)
    g = load_graph(spark, path)

    def keys(df) -> list:
        return re.findall(r"Exchange hashpartitioning\((\w+)#", _plan(df))

    def scans():
        return gi_scan(g), gi_scan(g).filter(F.col("strain") == "T0003")

    for df in scans():
        assert keys(df) == ["strain"]
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for df in scans():
            assert "cluster_id" not in keys(df)
            assert len(keys(df)) <= 3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_rgp_interval_expansion_is_block_bucketed(spark, pangenome):
    from pangenomesasgraphdatabases_spark.graph.rgp import find_rgps

    plan = _plan(find_rgps(pangenome))
    # The candidate-interval expansion must equi-join on
    # (strain, pos_block) — never on strain alone with the range as the
    # only residual, which materializes a strain-wide cross product
    # before filtering (VERDICT r1 scale watch-item).
    range_joins = [
        ln for ln in plan.splitlines() if ">= pos1" in ln and "Join" in ln
    ]
    assert range_joins, "interval-expansion join not found in plan"
    for ln in range_joins:
        assert "pos_block" in ln, f"range join not block-bucketed: {ln.strip()}"


def test_ngram_dedup_candidates_join_on_shingle(spark):
    """The exact-Jaccard candidate join must shuffle on the shingle key
    (docfreq-pruned inverted index) — never a cartesian over the pair
    space."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_ngram_jaccard_dedup,
    )

    plan = _plan(doc_ngram_jaccard_dedup(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_scrub_and_split_are_narrow_maps(spark):
    """Scrub and split are per-row transforms: zero shuffle exchanges,
    and column pruning reaches the scan (text/doc_id only)."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_pii_scrub,
        doc_train_split,
    )

    for q in (doc_pii_scrub, doc_train_split):
        plan = _plan(q(spark, SF))
        assert "Exchange hashpartitioning" not in plan, q.__name__
    split_plan = _plan(doc_train_split(spark, SF))
    assert "text" not in split_plan.split("ReadSchema")[1][:200]


def test_new_dedup_paths_never_cartesian(spark):
    """Containment overlap and incremental dedup must candidate-join
    on fingerprint/band keys, never the pair space."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        dedup_increment_split,
        doc_partial_overlap_pairs,
    )

    for q in (doc_partial_overlap_pairs, dedup_increment_split):
        plan = _plan(q(spark, SF))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__


def test_r3_layout_and_sampling_are_narrow_maps(spark):
    """Z-order key derivation and importance resampling are pure
    projections/filters — any Exchange would mean a 100 TB shuffle for
    a map-side job."""
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        doc_importance_resample,
        lineitem_zorder_layout,
    )

    for q in (lineitem_zorder_layout, doc_importance_resample):
        plan = _plan(q(spark, SF))
        assert "Exchange" not in plan, q.__name__


def test_curation_pipeline_never_cartesian(spark):
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        doc_curation_verdicts,
    )

    plan = _plan(doc_curation_verdicts(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_every_query_is_oracle_backed():
    """Every registered query has a DuckDB oracle, so the driver's hash
    check never falls back to rows-only, in its first-50 window or
    anywhere else."""
    import __spark_entry__ as entry_mod

    assert sorted(entry_mod.oracle_sql()) == sorted(entry_mod.queries())


def test_all_queries_loads_every_query_module():
    """``all_queries()`` must import every module that registers a
    query: one missing from ``queries._load_all`` would drop its
    queries without an error.  A fresh interpreter, since other tests
    import query modules directly.  The order is registration order,
    with the flagship first."""
    import json
    import subprocess
    import sys

    repo = Path(__file__).resolve().parent.parent
    probe = (
        "import json, sys\n"
        "from pangenomesasgraphdatabases_spark.queries.registry import "
        "_REGISTRY, all_queries\n"
        "names = list(all_queries())\n"
        "print(json.dumps([names, list(_REGISTRY), sorted(sys.modules)]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    names, registered, modules = json.loads(out)
    queries_dir = repo / "pangenomesasgraphdatabases_spark" / "queries"
    registering = [
        f"pangenomesasgraphdatabases_spark.queries.{p.stem}"
        for p in sorted(queries_dir.glob("*.py"))
        if "@register(" in p.read_text(encoding="utf-8")
    ]
    assert registering
    assert [m for m in registering if m not in modules] == []
    assert names == registered
    assert names[0] == "gi_scan_flagship"


def test_pair_dedup_join_free(spark):
    """canonical_pair_dedup (r5 rewrite): the within-order pair
    expansion is array surgery, not a self-join — the plan must have
    no join and exactly two shuffles (input groupBy + pair agg)."""
    from pangenomesasgraphdatabases_spark.queries.relational import (
        canonical_pair_dedup,
    )

    plan = _plan(canonical_pair_dedup(spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_power_iteration_projection_map_only(spark):
    """pc1/pc2 projections are literal-vector dot products: after the
    covariance reduction (collected driver-side), the projection scan
    itself must be join-free with zero exchanges."""
    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.queries.emb_stats_q import (
        _lit_proj,
        _pi_directions,
        emb_covariance,
    )

    v, u = _pi_directions(emb_covariance(spark, SF).collect())
    e = table(spark, SF, "embeddings")
    proj = e.select("vec_id", _lit_proj(v).alias("pc1"), _lit_proj(u).alias("pc2"))
    plan = _plan(proj)
    assert "Join" not in plan and "Exchange" not in plan


def test_genbank_scan_single_stage(spark):
    """The GenBank scan is one mapInPandas over wholetext rows — no
    join, no shuffle."""
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        read_genbank_features,
    )

    plan = _plan(
        read_genbank_features(spark, f"{FIXTURES}/genbank/*.gbk")
    )
    assert "Join" not in plan and "Exchange hashpartitioning" not in plan


def test_fuzzy_match_join_free_of_cartesian(spark):
    """The fuzzy join must stay equi-joined on the band key — a
    cartesian/nested-loop product here is the N^2 plan the blocking
    exists to prevent."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_fuzzy_match_pairs,
    )

    plan = _plan(doc_fuzzy_match_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sweep_and_basket_single_partition_is_tiny_only(spark):
    """interval_sweep_concurrency may funnel ONLY the per-partition
    offsets frame (numPartitions rows) into one partition; the basket
    plan's nested-loop join must be the 1-row scalar broadcast, not a
    data-data product."""
    from pangenomesasgraphdatabases_spark.queries.analytics_q import (
        interval_sweep_concurrency,
        order_basket_pairs,
    )

    sweep = _plan(interval_sweep_concurrency(spark, SF))
    assert sweep.count("Exchange SinglePartition") <= 1
    assert "CartesianProduct" not in sweep

    basket = _plan(order_basket_pairs(spark, SF))
    assert "CartesianProduct" not in basket
    # The only nested-loop join allowed is against the one-row
    # distinct-order count (scalar broadcast).
    assert basket.count("BroadcastNestedLoopJoin") <= 1
    # r15: pair expansion is per-basket array surgery (explode of the
    # collected sorted part set — no self-join), so the only equi-joins
    # left are the two frequency attachments; a regression back to the
    # self-join shape would add a third join and a second basket-key
    # exchange.
    assert basket.count("Generate explode") >= 2  # pairs + freq explode
    njoins = (
        basket.count("SortMergeJoin")
        + basket.count("ShuffledHashJoin")
        + basket.count("BroadcastHashJoin")
    )
    assert 2 <= njoins <= 3


def test_new_join_ops_stay_equi_joined(spark):
    """The round-6 join operators (attribution range join, MERGE,
    snapshot diff, SimHash pairing) must never compile to a
    cartesian product; MERGE's change batch must broadcast."""
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_attribution_touchpoints,
    )
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        orders_merge_into,
        orders_snapshot_diff,
    )
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_simhash_hamming_pairs,
    )

    for fn in (
        events_attribution_touchpoints,
        orders_merge_into,
        orders_snapshot_diff,
        doc_simhash_hamming_pairs,
    ):
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, fn.__name__
    assert "BroadcastHashJoin" in _plan(orders_merge_into(spark, SF))


def test_q5_broadcasts_all_dimensions(spark):
    """The six-table Q5 plan keeps ONE big-big shuffle join
    (lineitem-orders); customer/supplier/nation/region ride broadcast
    joins."""
    from pangenomesasgraphdatabases_spark.queries.relational import (
        regional_revenue_q5,
    )

    plan = _plan(regional_revenue_q5(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 2


def test_batch7_relational_plans(spark):
    """Q3 broadcasts the filtered customer side and stays take-ordered;
    the promo share broadcasts the part dimension; the band range join
    is a broadcast nested loop over the 25-row band table, never a
    shuffled cartesian."""
    from pangenomesasgraphdatabases_spark.queries.relational import (
        customer_band_range_join,
        lineitem_promo_share,
        orders_q3_topk_unshipped,
    )

    q3 = _plan(orders_q3_topk_unshipped(spark, SF))
    assert "BroadcastHashJoin" in q3
    assert "TakeOrderedAndProject" in q3
    assert "CartesianProduct" not in q3

    q14 = _plan(lineitem_promo_share(spark, SF))
    assert "BroadcastHashJoin" in q14
    assert "CartesianProduct" not in q14

    band = _plan(customer_band_range_join(spark, SF))
    assert "BroadcastNestedLoopJoin" in band
    assert "CartesianProduct" not in band


def test_zonemap_pruning_measures_skipping(spark):
    """The zonemap query's scalar max broadcasts (no shuffle join) and
    the z-order layout must actually out-prune the natural layout for
    the mid-domain probe — the measured data-skipping claim."""
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        lineitem_zonemap_pruning,
    )

    df = lineitem_zonemap_pruning(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan
    rows = df.collect()
    pruned = {
        layout: sum(1 for r in rows if r.layout == layout and r.pruned)
        for layout in ("zorder", "natural")
    }
    total = {
        layout: sum(1 for r in rows if r.layout == layout)
        for layout in ("zorder", "natural")
    }
    z_frac = pruned["zorder"] / total["zorder"]
    n_frac = pruned["natural"] / max(1, total["natural"])
    assert z_frac > n_frac, (pruned, total)
    assert z_frac >= 0.5, (pruned, total)


def test_batch8_plans_stay_bounded(spark):
    """Novelty joins on the shingle key (never all-pairs); the PSI
    scalar totals ride a broadcast; the compaction window partitions
    by month (no global sort); knn's deliberate cross join broadcasts
    the 20-row query side."""
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_psi_drift,
    )
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        lineitem_compaction_bins,
    )
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_ngram_novelty,
    )
    from pangenomesasgraphdatabases_spark.queries.vectors_q import (
        emb_knn_label_vote,
    )

    nov = _plan(doc_ngram_novelty(spark, SF))
    assert "CartesianProduct" not in nov
    assert "BroadcastNestedLoopJoin" not in nov

    psi = _plan(events_psi_drift(spark, SF))
    assert "CartesianProduct" not in psi

    comp = _plan(lineitem_compaction_bins(spark, SF))
    assert "CartesianProduct" not in comp
    assert "Window" in comp and "midx#" in comp

    knn = _plan(emb_knn_label_vote(spark, SF))
    assert "BroadcastNestedLoopJoin" in knn
    assert "CartesianProduct" not in knn


def test_batch9_plans(spark):
    """Zipf ranks only a TakeOrdered top slice (no full-vocabulary
    single-partition window); the A/B and MI scalar frames broadcast;
    assortativity never goes cartesian."""
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_ab_test_ztest,
        events_mutual_info,
    )
    from pangenomesasgraphdatabases_spark.queries.graph_algo_q import (
        graph_degree_assortativity,
    )
    from pangenomesasgraphdatabases_spark.queries.text_q import doc_zipf_fit

    z = _plan(doc_zipf_fit(spark, SF))
    assert "TakeOrderedAndProject" in z

    for fn in (events_ab_test_ztest, events_mutual_info,
               graph_degree_assortativity):
        assert "CartesianProduct" not in _plan(fn(spark, SF)), fn.__name__


def test_batch10_plans(spark):
    """The skew-safe distinct must stage two exchanges with the FIRST
    on the composite (brand, suppkey) key; the source matrix stays
    band-bucketed (no cartesian); the length filter broadcasts its
    bounds back onto the scan."""
    from pangenomesasgraphdatabases_spark.queries.relational import (
        lineitem_skewsafe_distinct,
    )
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_length_outlier_filter,
        doc_near_dup_source_matrix,
    )

    skew = _plan(lineitem_skewsafe_distinct(spark, SF))
    exchanges = [
        ln for ln in skew.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 2, skew
    first = exchanges[-1]  # innermost exchange prints last
    assert "l_suppkey" in first and "p_brand" in first, first

    mat = _plan(doc_near_dup_source_matrix(spark, SF))
    assert "CartesianProduct" not in mat

    filt = _plan(doc_length_outlier_filter(spark, SF))
    assert "BroadcastHashJoin" in filt


def test_batch11_plans(spark):
    """The trigram search must verify only posting-intersection
    candidates (join present, no cartesian); the recall curve scores
    candidates ONCE (a single candidate-scoring join lineage feeding
    all nprobe ranks); sequence entropy windows per user."""
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_user_sequence_entropy,
    )
    from pangenomesasgraphdatabases_spark.queries.relational import (
        part_trigram_like_search,
    )
    from pangenomesasgraphdatabases_spark.queries.vectors_q import (
        ann_ivf_recall_curve,
    )

    tri = _plan(part_trigram_like_search(spark, SF))
    assert "CartesianProduct" not in tri

    ent = _plan(events_user_sequence_entropy(spark, SF))
    assert "CartesianProduct" not in ent
    assert "user_id#" in ent

    rc = _plan(ann_ivf_recall_curve(spark, SF))
    assert "CartesianProduct" not in rc


def test_batch12_plans(spark):
    """Drawdown's two stacked windows share ONE user-partitioned
    exchange (the flagship discipline); the referential-integrity
    audit rides broadcasts with zero shuffle exchanges at oracle
    scale; Q18 aggregates first and broadcasts the survivors."""
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_max_drawdown,
    )
    from pangenomesasgraphdatabases_spark.queries.relational import (
        orders_large_basket_q18,
        star_referential_integrity,
    )

    dd = _plan(events_max_drawdown(spark, SF))
    assert dd.count("Exchange hashpartitioning") == 1

    ri = _plan(star_referential_integrity(spark, SF))
    assert "Exchange hashpartitioning" not in ri
    assert ri.count("BroadcastHashJoin") >= 5

    q18 = _plan(orders_large_basket_q18(spark, SF))
    assert q18.count("Exchange hashpartitioning") == 1
    assert q18.count("BroadcastHashJoin") >= 2


def test_pair_query_guards_stay_bucket_shaped(spark):
    """The r10 rep-collapse rewrites must not introduce cartesian /
    nested-loop joins anywhere: candidates still shuffle on band
    buckets / block values / (tbl, bucket), the collapse and
    expansion are equi-joins on content keys and rep ids."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_lsh_near_dup_pairs,
        doc_simhash_hamming_pairs,
    )
    from pangenomesasgraphdatabases_spark.queries.vectors_q import (
        emb_cosine_near_dup,
    )

    for fn in (
        doc_lsh_near_dup_pairs,
        doc_simhash_hamming_pairs,
        emb_cosine_near_dup,
    ):
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
    spark.catalog.clearCache()


# Queries whose CONSTRUCTION may run eager Spark actions, each for a
# documented reason (everything else must build action-free — VERDICT
# r10 #6):
#   * bounded stats probes steering an adaptive plan (the footer-gated
#     dup-lightness probe of operators/rep_collapse, emb_decontaminate's
#     benchmark-tier count);
#   * driver-boundary collects of provably tiny frames (the 64x64
#     covariance for power iteration);
#   * genuinely iterative algorithms (connected components, k-core,
#     SSSP, and their consumers) that localCheckpoint per round.
EAGER_BUILD_ALLOWED = {
    "doc_lsh_near_dup_pairs",
    "doc_simhash_hamming_pairs",
    "emb_cosine_near_dup",
    "emb_decontaminate",
    "emb_power_iteration_pc1",
    "emb_power_iteration_pc2",
    "graph_components",
    "graph_sssp_hops",
    "graph_kcore",
    "doc_curation_verdicts",
    "doc_ngram_jaccard_dedup",
    "stream_windowed_topk",
    # gate agg + iterative connected-components at construction (the
    # distributed exact linkage path, VERDICT r10 #5)
    "linkage_distributed_cut",
    # ...and its r12 parallel-RNN twin: the mutual-NN merge loop is
    # genuinely iterative (localCheckpoint + convergence probe per
    # round, VERDICT r11 #5)
    "linkage_rnn_cut",
}

# Queries whose construction may submit Spark jobs besides those above:
# the streaming ones run an AvailableNow micro-batch when they are built,
# and this one infers CSV/TSV schemas over the raw PIRATE tree.
JOBS_AT_BUILD_ALLOWED = {"etl_pirate_to_graph"}


def _each_query(found: dict) -> str:
    # A str message naming every query: pytest cuts the repr of a dict
    # message short.
    return f"{len(found)} queries: " + "; ".join(
        f"{name} {value}" for name, value in sorted(found.items())
    )


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _warm_schema_memo(spark, sf_dir: str) -> None:
    """Infer every parquet input's schema once, so a construction that
    reads only those files submits no job.  events goes first: its
    loader turns on the nanosAsLong conf, which is part of the memo key."""
    from pangenomesasgraphdatabases_spark import data
    from pangenomesasgraphdatabases_spark.queries.graph_q import FIX

    for name in sorted(data.TABLES, key=lambda t: t != "events"):
        data.table(spark, sf_dir, name)
    for name in ("feature_nodes", "cluster_nodes", "composition"):
        data.read_parquet(spark, f"{FIX}/{name}.parquet")


@pytest.fixture(scope="module")
def registry_sweep(spark):
    """ONE walk of every registered query (r16, VERDICT r15 #2: the
    driver's pytest budget cut the suite at ~90%, and the two
    full-registry contract tests each re-built all 283 plans — the two
    most expensive tests in the suite doing the same walk twice).  The
    walk builds each DataFrame once with eager-action recording hooks
    installed, counting the Spark jobs the build submits, AND compiles
    its physical plan once; the tests below assert their own contract
    over the shared result.  Built at sf0.001 (the eager contract is
    SF-independent by definition)."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from pangenomesasgraphdatabases_spark.queries.registry import (
        all_queries,
    )

    sf_dir = "/root/testdata/sf0.001"
    _warm_schema_memo(spark, sf_dir)

    actions = (
        "collect",
        "count",
        "toPandas",
        "take",
        "first",
        "head",
        "localCheckpoint",
        "checkpoint",
    )
    recorded: list[str] = []
    originals = {m: getattr(CDF, m) for m in actions if hasattr(CDF, m)}

    def make(mn, of):
        def wrapper(self, *a, **k):
            recorded.append(mn)
            return of(self, *a, **k)

        return wrapper

    for m, of in originals.items():
        setattr(CDF, m, make(m, of))
    eager: dict[str, list[str]] = {}
    jobs: dict[str, int] = {}
    nodes: dict[str, list[str]] = {}
    try:
        for name, q in all_queries().items():
            recorded.clear()
            job0 = _next_job_id(spark)
            df = q.fn(spark, sf_dir)
            submitted = _next_job_id(spark) - job0
            if recorded and name not in EAGER_BUILD_ALLOWED:
                eager[name] = sorted(set(recorded))
            if submitted and not (
                name in EAGER_BUILD_ALLOWED
                or name in JOBS_AT_BUILD_ALLOWED
                or "streaming" in q.tags
            ):
                jobs[name] = submitted
            plan = _plan(df)
            bad = [
                n
                for n in ("CartesianProduct", "BatchEvalPython")
                if n in plan
            ]
            if bad:
                nodes[name] = bad
            spark.catalog.clearCache()
    finally:
        for m, of in originals.items():
            setattr(CDF, m, of)
    return {"eager": eager, "jobs": jobs, "nodes": nodes}


def test_plan_construction_runs_no_eager_actions(registry_sweep):
    """Building a registered query's DataFrame must not execute eager
    Spark actions (collect/count/toPandas/localCheckpoint/...) —
    enumerating plans is free (VERDICT r10 #6; the r9
    doc_jaccard_containment width probe and the tfidf/unigram corpus
    counts are now footer stats or in-plan scalar subqueries).
    Exceptions are the documented EAGER_BUILD_ALLOWED set above."""
    eager = registry_sweep["eager"]
    assert not eager, "eager actions when built, " + _each_query(eager)


def test_plan_construction_submits_no_jobs(registry_sweep):
    """The same contract counted in Spark jobs, which also sees jobs no
    DataFrame method starts, such as parquet schema inference inside
    ``spark.read.parquet``.  With the schema memo warm, building a
    registered query submits none.  Exceptions: EAGER_BUILD_ALLOWED,
    JOBS_AT_BUILD_ALLOWED and the queries tagged ``streaming``."""
    jobs = registry_sweep["jobs"]
    assert not jobs, "jobs submitted when built, " + _each_query(jobs)


def test_capped_lsh_plan_shape(spark):
    """doc_lsh_capped_pairs stays bucket-shaped: no cartesian product,
    and exactly ONE BroadcastNestedLoopJoin — the intended one-row
    audit cross join (crossJoin(broadcast(<1-row agg>)) is physically
    a BNLJ and is the cheapest way to ride two scalar columns onto
    every output row)."""
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_lsh_capped_pairs,
    )

    plan = _plan(doc_lsh_capped_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    spark.catalog.clearCache()


def test_seed_align_width_pin_is_broadcast_proof(spark):
    """VERDICT r13 #2 / ADVICE r13: the aligner's extension-width pin
    (the round-robin repartition that stops AQE's byte-based
    coalescing from serializing the CPU-bound mapInPandas stage —
    the measured 88 s -> 13 s trap) must survive the sequence-attach
    joins: the sequence dims join under EXPLICIT F.broadcast hints,
    so even with autoBroadcastJoinThreshold DISABLED the joins are
    BroadcastHashJoin and the pinned round-robin exchange is the
    mapInPandas stage's parent — no silent sort-merge fallback can
    re-shuffle the candidates by key and undo the pin."""
    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        builtin_blast_hits,
    )

    base = _seq_corpus(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the silent-fallback condition ADVICE r13 describes
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(builtin_blast_hits(*base))
        # treeString prints children below parents: the pin exchange
        # must be under (after) the python extension stage, and the
        # segment between them — the sequence-attach joins — must be
        # two BroadcastHashJoins with NO shuffle join (the k-mer
        # seeding join further down is legitimately sort-merge)
        mp, rr = plan.index("MapInPandas"), plan.index(
            "RoundRobinPartitioning"
        )
        assert mp < rr
        seg = plan[mp:rr]
        assert seg.count("BroadcastHashJoin") == 2
        assert "SortMergeJoin" not in seg and "ShuffledHashJoin" not in seg
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _seq_corpus(spark):
    import hashlib

    def seq(i):
        out = []
        for j in range(8):
            h = hashlib.md5(f"pin-{i}-{j}".encode()).hexdigest()
            out.append(
                h.translate(str.maketrans("0123456789abcdef",
                                          "ACGTACGTACGTACGT"))
            )
        return "".join(out)

    subs = [(f"s{i}", seq(i)) for i in range(6)]
    qs = [(f"q{i}", s[40:100]) for i, (_, s) in enumerate(subs)]
    return (
        spark.createDataFrame(qs, ["query_id", "sequence"]),
        spark.createDataFrame(subs, ["subject_id", "sequence"]),
    )


def test_registry_wide_plan_contract_no_cartesian_no_row_udf(registry_sweep):
    """VERDICT r13 #7: two judge-grep disciplines as a regression
    gate — EVERY registered query's physical plan (from the shared
    one-pass registry_sweep walk) must contain no CartesianProduct
    (pair spaces must be bucketed/blocked — the one sanctioned 1-row
    audit cross join lowers to BroadcastNestedLoopJoin, a different
    node) and no BatchEvalPython (row-at-a-time Python UDFs;
    Arrow-batched ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas are the allowed Python boundaries)."""
    nodes = registry_sweep["nodes"]
    assert not nodes, "forbidden plan nodes, " + _each_query(nodes)
