"""Property tests for the round-6 second batch: clustering
coefficient, TV drift, CUSUM change-point, Pareto ABC, grouping
sets."""

from __future__ import annotations

from collections import defaultdict

SF = "/root/testdata/sf0.001"


def test_clustering_coefficient_bruteforce(spark):
    from pangenomesasgraphdatabases_spark.queries.graph_algo_q import (
        graph_clustering_coefficient,
    )
    from pangenomesasgraphdatabases_spark.data import table

    out = {
        r["node"]: r
        for r in graph_clustering_coefficient(spark, SF).collect()
    }
    assert out
    # Rebuild the synteny adjacency exactly as the query defines it.
    li = table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )
    rows = sorted(
        li.collect(), key=lambda r: (r["l_orderkey"], r["l_linenumber"], r["l_partkey"])
    )
    byo = defaultdict(list)
    for r in rows:
        byo[r["l_orderkey"]].append(r["l_partkey"])
    adj = defaultdict(set)
    for seq in byo.values():
        for a, b in zip(seq, seq[1:]):
            if a != b:
                adj[a].add(b)
                adj[b].add(a)
    checked = 0
    for node, r in out.items():
        deg = len(adj[node])
        assert r["deg"] == deg
        tri = 0
        nbrs = sorted(adj[node])
        for i, x in enumerate(nbrs):
            for y in nbrs[i + 1 :]:
                if y in adj[x]:
                    tri += 1
        assert r["n_triangles"] == tri, node
        assert r["clustering_micro"] == 2 * tri * 1_000_000 // (deg * (deg - 1))
        assert 0 <= r["clustering_micro"] <= 1_000_000
        checked += 1
    assert checked == sum(1 for n, s in adj.items() if len(s) >= 2)


def test_tv_drift_bounds_and_self_zero(spark):
    from pangenomesasgraphdatabases_spark.queries.events_q import events_tv_drift

    rows = events_tv_drift(spark, SF).collect()
    assert rows
    for r in rows:
        # TV distance of two probability vectors in micros is [0, 1e6]
        # (integer-share truncation keeps it inside the bound).
        assert 0 <= r["tv_micro"] <= 1_000_000


def test_cusum_telescopes_and_peak_consistent(spark):
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_cusum_changepoint,
    )
    from pangenomesasgraphdatabases_spark.data import table

    out = {r["user_id"]: r for r in events_cusum_changepoint(spark, SF).collect()}
    assert out
    e = table(spark, SF, "events").select("user_id", "ts_ns", "event_id", "value")
    vals = e.collect()
    gm = sum(round(r["value"] * 1000) for r in vals) // len(vals)
    byu = defaultdict(list)
    for r in vals:
        byu[r["user_id"]].append((r["ts_ns"], r["event_id"], round(r["value"] * 1000)))
    for uid, seq in byu.items():
        seq.sort()
        cs, mx, mn = 0, None, None
        for _, _, v in seq:
            cs += v - gm
            mx = cs if mx is None else max(mx, cs)
            mn = cs if mn is None else min(mn, cs)
        r = out[uid]
        assert r["n_events"] == len(seq)
        assert r["max_cusum_milli"] == mx
        assert r["min_cusum_milli"] == mn
        assert r["peak_abs_milli"] == max(abs(mx), abs(mn))


def test_pareto_abc_partitions_and_order(spark):
    from pangenomesasgraphdatabases_spark.queries.analytics_q import orders_pareto_abc

    rows = sorted(
        orders_pareto_abc(spark, SF).collect(),
        key=lambda r: (-r["cents"], r["o_custkey"]),
    )
    assert rows
    # Cumulative share is non-decreasing along the rank order and ends
    # at (or within truncation of) 100%.
    shares = [r["cum_share_micro"] for r in rows]
    assert shares == sorted(shares)
    assert 999_000 <= shares[-1] <= 1_000_000
    # Class boundaries follow the share exactly.
    for r in rows:
        s = r["cum_share_micro"]
        want = "A" if s <= 800_000 else ("B" if s <= 950_000 else "C")
        assert r["abc_class"] == want
    # A-revenue really is <= 80% + one customer's worth.
    total = sum(r["cents"] for r in rows)
    a_rev = sum(r["cents"] for r in rows if r["abc_class"] == "A")
    max_single = max(r["cents"] for r in rows)
    assert a_rev <= total * 0.8 + max_single


def test_grouping_sets_marginals_reconcile(spark):
    from pangenomesasgraphdatabases_spark.queries.sql_surface_q import (
        sql_grouping_sets,
    )

    rows = sql_grouping_sets(spark, SF).collect()
    grand = [r for r in rows if r["o_orderpriority"] is None and r["o_orderstatus"] is None]
    by_prio = [r for r in rows if r["o_orderpriority"] is not None]
    by_status = [r for r in rows if r["o_orderstatus"] is not None]
    assert len(grand) == 1
    assert sum(r["n"] for r in by_prio) == grand[0]["n"]
    assert sum(r["n"] for r in by_status) == grand[0]["n"]
    assert sum(r["total_cents"] for r in by_prio) == grand[0]["total_cents"]
    assert sum(r["total_cents"] for r in by_status) == grand[0]["total_cents"]
