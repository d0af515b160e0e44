"""Self-scale bench: the heaviest queries at sf0.1 vs a self-made 10x
scale point (VERDICT r5 #5 — one real 10x datapoint catches the
driver-side or skew surprises that plan reading and sf0.1 hide).

Runs each heavy sf-table query against /root/testdata/sf0.1 and
.scale/sf1 (built by tools/gen_scale_data.py), and the graph-build +
RGP pipeline at 770x6000 vs 770x60000 features, then prints one JSON
line of results (SCALE.md records them by hand).

Table queries are measured as bench.py measures them: a warm-up at
sf0.001, then ``bench.timed_rep`` reps through the noop sink, each
carrying its wall time, steal and status-store counters, summarized
by ``bench.summarize``.  The graph build goes through
``bench.build_materialized`` (overlapped table jobs); its RGP rep reads
the graph the build rep cached, so the graph legs keep their own loop.

A scaling factor near the data ratio (10x) means linear data-parallel
behavior; sublinear means fixed overheads still dominate at sf0.1;
superlinear needs an explanation (pair blowup, skew, driver
bottleneck) or a fix.

Usage: python tools/bench_scale.py [reps] [--graph-only | --tables-only]
       (--graph-only runs just the graph-build + RGP pipeline pair on
       a 256-wide shuffle — combine with
       SPARK_GRAFT_GRAPH_PER_STRAIN=180000 for the 30x graph point
       without re-timing the table queries)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _noop, _read_steal, build_materialized, new_probe, summarize, timed_rep
from pangenomesasgraphdatabases_spark.graph.fixtures import synthetic_feature_tables
from pangenomesasgraphdatabases_spark.graph.rgp import find_rgps
from pangenomesasgraphdatabases_spark.queries.registry import all_queries
from pangenomesasgraphdatabases_spark.session import get_spark

# Small-side dir: $SPARK_GRAFT_SMALL_DIR overrides (e.g. a planted-
# duplicate variant of sf0.1 so both sides of a slope carry the same
# planted fixture).
SMALL = os.environ.get("SPARK_GRAFT_SMALL_DIR", "/root/testdata/sf0.1")
# Big-side scale dir: $SPARK_GRAFT_SCALE_DIR overrides (e.g. .scale/sf3
# built with `gen_scale_data.py ... 30` for the 30x point of the curve).
BIG = os.environ.get(
    "SPARK_GRAFT_SCALE_DIR", os.path.join(REPO, ".scale", "sf1")
)
WARM = "/root/testdata/sf0.001"

QUERIES = [
    "doc_ngram_jaccard_dedup",
    "doc_lsh_near_dup_pairs",
    "doc_segment_dedup",
    "ann_ivfpq_topk",
    "events_gap_fill",
    # round-6 extensions: the join/explode/prefix-sum-heavy new ops
    "doc_fuzzy_match_pairs",
    "doc_char_entropy",
    "events_hll_distinct",
    "events_mannwhitney_value",
    "order_basket_pairs",
    "interval_sweep_concurrency",
    # round-6 late extensions: inverted-index novelty, the LSH
    # provenance rollup, histogram percentile trims, the drift/MI
    # contingency family, streaming session state at 10x users, the
    # broadcast knn scan, and the layout/maintenance planners.
    "doc_ngram_novelty",
    "doc_near_dup_source_matrix",
    "doc_length_outlier_filter",
    "events_psi_drift",
    "events_mutual_info",
    "stream_session_windows",
    "emb_knn_label_vote",
    "lineitem_zonemap_pruning",
    "lineitem_compaction_bins",
    "lineitem_skewsafe_distinct",
    # round-7: the lakehouse / maintenance / survival family (first
    # measured ad hoc for SCALE.md's r7 section; kept here so the
    # curve reruns with the tool)
    "orders_join_view_ivm",
    "user_forget_cascade",
    "customer_km_survival",
    "orders_merge_into",
    "orders_snapshot_diff",
    "data_quality_checks",
    "lineitem_hilbert_layout",
    # round-8: the pair/join-shaped queries of the r8 driver window
    # (minimizer match = inverted-index pair join; containment =
    # asymmetric n-gram overlap; MIPS/recall-curve = broadcast-query
    # scans; band range join; PMI = session pair explosion; q18 =
    # the TPC-H large-basket group-filter; trigram LIKE search).
    "doc_minimizer_match_pairs",
    "doc_jaccard_containment",
    "ann_mips_topk",
    "ann_ivf_recall_curve",
    "customer_band_range_join",
    "events_session_pair_pmi",
    "orders_large_basket_q18",
    "part_trigram_like_search",
]

GRAPH_SMALL = (770, 6_000)
# Big-side graph scale: $SPARK_GRAFT_GRAPH_PER_STRAIN overrides the
# per-strain feature count (60_000 = the 10x point; 180_000 = 30x —
# VERDICT r7 #4 asks both pipelines to carry the same slope evidence
# as the extension families).
GRAPH_BIG = (
    770,
    int(os.environ.get("SPARK_GRAFT_GRAPH_PER_STRAIN", "60000")),
)


def main() -> None:
    args = [
        a
        for a in sys.argv[1:]
        if a not in ("--graph-only", "--tables-only")
    ]
    graph_only = "--graph-only" in sys.argv[1:]
    # --tables-only: skip the graph-build/RGP section (targeted
    # re-measures of individual table queries shouldn't pay the
    # multi-minute 770xN graph legs).
    tables_only = "--tables-only" in sys.argv[1:]
    reps = int(args[0]) if args else 2
    # AQE coalesces a shuffle but never splits one, so the graph legs
    # size the width to the graph: at 138M features (30x) 32 partitions
    # went memory-bound, 346.7s build vs 181.6s at 256 (SCALE.md r8).
    spark = get_spark(
        "pangenome-scale-bench", shuffle_partitions=256 if graph_only else None
    )
    registry = all_queries()
    probe = new_probe(spark)
    clear = spark.catalog.clearCache

    # Optional subset: SPARK_GRAFT_SCALE_QUERIES=a,b,c restricts the
    # table-query list (e.g. only the r8 additions at the 30x point
    # instead of re-timing all families).
    subset = os.environ.get("SPARK_GRAFT_SCALE_QUERIES")
    queries = (
        [q.strip() for q in subset.split(",") if q.strip()]
        if subset
        else QUERIES
    )
    results: dict[str, dict] = {}
    for name in [] if graph_only else queries:
        q = registry[name]
        _noop(q.fn(spark, WARM))  # codegen warmup
        clear()
        small, big = (
            summarize([timed_rep(spark, probe, lambda: _noop(q.fn(spark, d))) for _ in range(reps)])
            for d in (SMALL, BIG)
        )
        s, b = small["median_s"], big["median_s"]
        results[name] = {
            "sf0_1_sec": s,
            "sf1_sec": b,
            "factor": round(b / s, 2),
            "small": small,
            "big": big,
        }
        print(f"{name}: {s:.2f}s -> {b:.2f}s ({b / s:.1f}x)", file=sys.stderr)

    # Co-tenant bursts cost ~3x a clean rep (SCALE.md), so each graph
    # rep carries its own steal delta and MIN-of-reps is the reported
    # statistic.
    def run_graph(
        n_strains: int, per_strain: int, reps: int
    ) -> dict[str, list]:
        f, c, comp = synthetic_feature_tables(spark, n_strains, per_strain)
        out: dict[str, list] = {
            "build": [], "rgp": [], "build_steal": [], "rgp_steal": []
        }
        for _ in range(reps):
            # clearCache between reps drops the hub AND the sources;
            # re-persisting the synth inputs keeps data generation
            # outside the timed section every rep.
            for src in (f, c, comp):
                src.persist().count()
            s0, t0 = _read_steal(), time.time()
            g = build_materialized(spark, f, c, comp)
            out["build"].append(round(time.time() - t0, 3))
            out["build_steal"].append(_read_steal() - s0)
            s0, t0 = _read_steal(), time.time()
            _noop(find_rgps(g, n_strains=n_strains))
            out["rgp"].append(round(time.time() - t0, 3))
            out["rgp_steal"].append(_read_steal() - s0)
            clear()
        return out

    if tables_only:
        print(json.dumps({"metric": "scale_10x", "results": results}))
        return

    small = run_graph(*GRAPH_SMALL, reps)
    big = run_graph(*GRAPH_BIG, reps)
    ratio = GRAPH_BIG[1] / GRAPH_SMALL[1]
    for key, name in (("build", "graph_build"), ("rgp", "rgp_pipeline")):
        s, b = min(small[key]), min(big[key])
        results[name] = {
            "sf0_1_sec": s,
            "sf1_sec": b,
            "factor": round(b / s, 2),
            "data_ratio": ratio,
            "reps_small": small[key],
            "reps_big": big[key],
            "steal_small": small[key + "_steal"],
            "steal_big": big[key + "_steal"],
        }
        print(
            f"{name}: {s:.1f}s -> {b:.1f}s ({b / s:.1f}x, min of "
            f"{reps}; steal {small[key + '_steal']} / "
            f"{big[key + '_steal']})",
            file=sys.stderr,
        )

    print(json.dumps({"metric": "scale_10x", "results": results}))


if __name__ == "__main__":
    main()
