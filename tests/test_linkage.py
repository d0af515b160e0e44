"""NN-chain complete linkage vs a brute-force reference cut, plus the
gates on driver-side analysis boundaries."""

from __future__ import annotations

import random

import pytest

from pangenomesasgraphdatabases_spark.graph.rgp_analysis import (
    complete_linkage_clusters,
    linkage_clusters_scalable,
)


def _brute_force_cut(pairs, threshold):
    """Greedy best-pair complete linkage stopped at the threshold (the
    r1 reference implementation, kept here as the test oracle)."""
    items = sorted({x for p in pairs for x in p[:2]})
    dist = {}
    for a, b, d in pairs:
        dist[(a, b)] = d
        dist[(b, a)] = d
    inf = float("inf")
    clusters = [{x} for x in items]
    while len(clusters) > 1:
        best = None
        for i in range(len(clusters)):
            for j in range(i + 1, len(clusters)):
                dmax = max(
                    dist.get((x, y), inf) for x in clusters[i] for y in clusters[j]
                )
                if best is None or dmax < best[0]:
                    best = (dmax, i, j)
        if best is None or best[0] > threshold:
            break
        _, i, j = best
        clusters[i] |= clusters[j]
        del clusters[j]
    return {x: k for k, c in enumerate(clusters) for x in c}


def _partition(labels):
    groups = {}
    for x, lbl in labels.items():
        groups.setdefault(lbl, set()).add(x)
    return frozenset(frozenset(g) for g in groups.values())


def test_nn_chain_matches_brute_force():
    rng = random.Random(7)
    for trial in range(20):
        n = rng.randint(4, 25)
        items = [f"x{i}" for i in range(n)]
        pairs = []
        for i in range(n):
            for j in range(i + 1, n):
                if rng.random() < 0.7:  # sparse: some pairs missing
                    pairs.append((items[i], items[j], round(rng.random(), 3)))
        if not pairs:
            continue
        t = rng.choice([0.1, 0.3, 0.5, 0.8])
        got = _partition(complete_linkage_clusters(pairs, t))
        want = _partition(_brute_force_cut(pairs, t))
        assert got == want, (trial, n, t)


def test_nn_chain_known_instance():
    labels = complete_linkage_clusters(
        [("i1", "i2", 0.1), ("i1", "i3", 0.9), ("i2", "i3", 0.8)], threshold=0.3
    )
    assert labels["i1"] == labels["i2"] != labels["i3"]


def test_nn_chain_isolated_and_gate():
    # isolated pair groups + a no-finite-neighbor singleton path
    labels = complete_linkage_clusters(
        [("a", "b", 0.05), ("c", "d", 0.05), ("a", "c", 5.0)], threshold=0.3
    )
    assert labels["a"] == labels["b"]
    assert labels["c"] == labels["d"]
    assert labels["a"] != labels["c"]

    with pytest.raises(ValueError, match="gated"):
        complete_linkage_clusters(
            [(f"x{i}", f"x{i+1}", 0.1) for i in range(25_000)], threshold=1.0
        )


def _single_linkage_cut(pairs, threshold):
    """Brute-force single-linkage components at the threshold — the
    semantics the distributed fallback promises."""
    items = sorted({x for p in pairs for x in p[:2]})
    parent = {x: x for x in items}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, d in pairs:
        if d <= threshold:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in items}


def test_scalable_linkage_exact_path(spark):
    """Inside the gates: DataFrame wrapper reproduces the exact
    complete-linkage partition, approx=False."""
    from pangenomesasgraphdatabases_spark.graph.rgp_analysis import (
        linkage_clusters_scalable,
    )

    pairs = [("i1", "i2", 0.1), ("i1", "i3", 0.9), ("i2", "i3", 0.8)]
    df = spark.createDataFrame(pairs, "item1 string, item2 string, dist double")
    out = {r.item: (r.cluster, r.approx) for r in
           linkage_clusters_scalable(df, 0.3).collect()}
    want = _partition(complete_linkage_clusters(pairs, 0.3))
    got = _partition({k: v[0] for k, v in out.items()})
    assert got == want
    assert all(not v[1] for v in out.values())


def test_scalable_linkage_approx_past_gate(spark, monkeypatch):
    """Round cap 0 (pre-r12 behavior): gates of 0 make every
    non-singleton component pathological and the parallel-RNN loop is
    pinned off, so the coarsening fallback returns the single-linkage
    components at the threshold, flagged approx; ISOLATED items are
    exact singletons (approx=False — a singleton needs no
    approximation); each exact complete-linkage cluster is contained
    in one approx component (coarsen-never-split)."""
    from pangenomesasgraphdatabases_spark.graph import rgp_analysis as ra

    monkeypatch.setattr(ra, "_RNN_MAX_ROUNDS", 0)
    rng = random.Random(11)
    n = 30
    items = [f"y{i}" for i in range(n)]
    pairs = []
    for i in range(n):
        for j in range(i + 1, n):
            if rng.random() < 0.25:
                pairs.append((items[i], items[j], round(rng.random(), 3)))
    from pangenomesasgraphdatabases_spark.graph.rgp_analysis import (
        linkage_clusters_scalable,
    )

    df = spark.createDataFrame(pairs, "item1 string, item2 string, dist double")
    t = 0.35
    out = {r.item: (r.cluster, r.approx) for r in
           linkage_clusters_scalable(df, t, exact_max_pairs=0).collect()}
    connected = {x for a, b, d in pairs if d <= t for x in (a, b)}
    assert all(v[1] for k, v in out.items() if k in connected)
    assert all(not v[1] for k, v in out.items() if k not in connected)
    want = _partition(_single_linkage_cut(pairs, t))
    got = _partition({k: v[0] for k, v in out.items()})
    assert got == want
    # Refinement property vs the exact algorithm.
    exact = complete_linkage_clusters(pairs, t)
    comp_of = {k: v[0] for k, v in out.items()}
    by_exact = {}
    for it, lab in exact.items():
        by_exact.setdefault(lab, set()).add(comp_of[it])
    assert all(len(comps) == 1 for comps in by_exact.values())


def test_scalable_linkage_item_gate_before_collect(spark, monkeypatch):
    """ADVICE r5: an input whose ITEM count fails the gate must route
    to the distributed path without ever collecting the PAIR FRAME to
    the driver — the only driver-side results during gating are
    single-row aggregates (the r7 one-action gate runs `.first()` on a
    1-row agg, which is fine; 20k pair rows are not).  Also exercises
    gate clamping: the caller's oversized exact_max_items is clamped
    to the hard limit and falls back instead of raising ValueError
    from the inner exact algorithm."""
    from pyspark.sql import DataFrame

    from pangenomesasgraphdatabases_spark.graph.rgp_analysis import (
        linkage_clusters_scalable,
    )

    n = 20_001  # chain: 20_000 pairs (inside pair gate), 20_001 items (past item gate)
    pairs = [(f"z{i:05d}", f"z{i + 1:05d}", 0.1) for i in range(n - 1)]
    df = spark.createDataFrame(pairs, "item1 string, item2 string, dist double")

    real_collect = DataFrame.collect

    def spy_collect(self):
        rows = real_collect(self)
        if len(rows) > 10:
            raise AssertionError(
                f"{len(rows)}-row collect() reached the driver during gating"
            )
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    try:
        out_df = linkage_clusters_scalable(df, 0.5, exact_max_items=10**9)
    finally:
        monkeypatch.setattr(DataFrame, "collect", real_collect)
    out = {r.item: (r.cluster, r.approx) for r in out_df.collect()}
    assert len(out) == n
    assert all(v[1] for v in out.values())  # distributed path ran
    assert {v[0] for v in out.values()} == {"z00000"}  # one chain component


def test_exact_rows_recheck_gates():
    """VERDICT r7 #6: the post-collect TRUE-size re-check replaced the
    untestable approx-undercount try/except.  Unit-covered directly:
    item and pair limits both enforced on the real collected rows."""
    from pangenomesasgraphdatabases_spark.graph.rgp_analysis import (
        _exact_rows_within_gates,
    )

    rows = [("a", "b", 0.1), ("b", "c", 0.2), ("c", "d", 0.3)]
    assert _exact_rows_within_gates(rows, max_items=4, max_pairs=3)
    assert not _exact_rows_within_gates(rows, max_items=3, max_pairs=3)
    assert not _exact_rows_within_gates(rows, max_items=4, max_pairs=2)
    assert _exact_rows_within_gates([], max_items=0, max_pairs=0)


def test_scalable_linkage_falls_back_when_recheck_fails(spark, monkeypatch):
    """If the true post-collect size exceeds the gates (the >5-sigma
    approx-undercount scenario), the exact path must fall through to
    the distributed path, not raise.  Since r11 the distributed path
    is per-component EXACT: complete linkage on the a-b-c component
    merges only a-b (d({a,b},c) = max(0.2, inf) = inf > t), and every
    flag stays approx=False."""
    from pangenomesasgraphdatabases_spark.graph import rgp_analysis as ra

    pairs = [("a", "b", 0.1), ("b", "c", 0.2), ("x", "y", 0.9)]
    df = spark.createDataFrame(pairs, "item1 string, item2 string, dist double")
    monkeypatch.setattr(ra, "_exact_rows_within_gates", lambda *a: False)
    out = {r.item: (r.cluster, r.approx) for r in
           ra.linkage_clusters_scalable(df, 0.5).collect()}
    assert all(not approx for _, approx in out.values())
    want = complete_linkage_clusters(pairs, 0.5)
    assert _partition({k: v[0] for k, v in out.items()}) == _partition(want)
    # 0.9 > threshold: edge dropped, x and y are singleton clusters
    assert out["x"][0] == "x" and out["y"][0] == "y"


def test_scalable_linkage_gate_is_one_action(spark, monkeypatch):
    """VERDICT r6 #4: the gate must be ONE action (a single agg over
    the exploded endpoints, read via `.first()`), not the two separate
    `DataFrame.count()` actions it used to run.  Raw job counts are an
    unreliable proxy (AQE materializes shuffle stages as extra jobs),
    so guard the mechanism directly: `count()` must never run inside
    the call, on either the exact or the distributed path."""
    from pyspark.sql import DataFrame

    from pangenomesasgraphdatabases_spark.graph.rgp_analysis import (
        linkage_clusters_scalable,
    )

    def spy_count(self):
        raise AssertionError("DataFrame.count() ran during linkage gating")

    pairs = [("g1", "g2", 0.1), ("g2", "g3", 0.2), ("g1", "g3", 0.9)]
    df = spark.createDataFrame(pairs, "item1 string, item2 string, dist double")
    from pangenomesasgraphdatabases_spark.graph import rgp_analysis as ra

    monkeypatch.setattr(DataFrame, "count", spy_count)
    try:
        exact = linkage_clusters_scalable(df, 0.3)  # exact path: collects inside
        # rounds pinned to 0 so the approx half exercises the
        # coarsening fallback (the RNN loop is iterative EXECUTION,
        # not gating — its per-round aggregates are out of scope here)
        monkeypatch.setattr(ra, "_RNN_MAX_ROUNDS", 0)
        approx = linkage_clusters_scalable(df, 0.3, exact_max_pairs=0)
        monkeypatch.setattr(ra, "_RNN_MAX_ROUNDS", 48)
        # the r12 RNN path on the same input: exact despite gates 0
        rnn = linkage_clusters_scalable(df, 0.3, exact_max_pairs=0)
    finally:
        monkeypatch.undo()
    assert exact.count() == 3
    assert {r.approx for r in exact.collect()} == {False}
    assert approx.count() == 3
    assert {r.approx for r in approx.collect()} == {True}
    assert {(r.item, r.cluster, r.approx) for r in rnn.collect()} == {
        ("g1", "g1", False), ("g2", "g1", False), ("g3", "g3", False),
    }


def test_dice_fanout_gate(spark, pangenome):
    from pangenomesasgraphdatabases_spark.graph.rgp import find_rgps
    from pangenomesasgraphdatabases_spark.graph.rgp_analysis import (
        insertion_dice_similarity,
    )

    rgps = find_rgps(pangenome)
    with pytest.raises(ValueError, match="fan-out"):
        insertion_dice_similarity(rgps, max_pair_fanout=1)


def _single_linkage_cut(pairs, t):
    """Reference single-linkage cut (union-find over <=t pairs) — the
    semantics linkage_clusters_scalable's distributed fallback
    implements via connected components."""
    items = sorted({x for p in pairs for x in p[:2]})
    parent = {x: x for x in items}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, d in pairs:
        if d <= t:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
    return {x: find(x) for x in items}


def _copairs(labels):
    from collections import defaultdict

    groups = defaultdict(list)
    for x, lab in labels.items():
        groups[lab].append(x)
    out = set()
    for mem in groups.values():
        mem.sort()
        for i in range(len(mem)):
            for j in range(i + 1, len(mem)):
                out.add((mem[i], mem[j]))
    return out


def _divergence(pairs, t):
    exact = complete_linkage_clusters(pairs, t)
    approx = _single_linkage_cut(pairs, t)
    pe, pa = _copairs(exact), _copairs(approx)
    split = len(pe - pa)
    rate = len(pa - pe) / len(pa) if pa else 0.0
    return split, round(rate, 3)


def _geometric_pairs(cap):
    import itertools
    import random

    rng = random.Random(42)
    pts = {f"p{i:03d}": (rng.random(), rng.random()) for i in range(200)}
    out = []
    for a, b in itertools.combinations(sorted(pts), 2):
        (x1, y1), (x2, y2) = pts[a], pts[b]
        d = ((x1 - x2) ** 2 + (y1 - y2) ** 2) ** 0.5
        if d <= cap:
            out.append((a, b, d))
    return out


def test_single_linkage_divergence_is_measured():
    """The docstring table of linkage_clusters_scalable (VERDICT r9
    #4) is MEASURED, not asserted: recompute each fixture family's
    split-pair count and over-merge rate and pin the published
    numbers.  Split pairs must be exactly 0 everywhere (containment:
    the fallback coarsens, never splits)."""
    import itertools

    # Well-separated blobs: intra-distance 0.3t, no inter pairs.
    blob_pairs = []
    for b in range(5):
        pts = [f"b{b}_{i}" for i in range(20)]
        for a, c in itertools.combinations(pts, 2):
            blob_pairs.append((a, c, 0.3))
    assert _divergence(blob_pairs, 1.0) == (0, 0.0)

    # Chain at 0.9t: single linkage percolates the whole path,
    # complete linkage stops at pairs (missing pairs are infinite).
    chain = [(f"c{i:02d}", f"c{i+1:02d}", 0.9) for i in range(39)]
    assert _divergence(chain, 1.0) == (0, 0.974)

    # 2D geometric above percolation: the <=t graph spans everything.
    assert _divergence(_geometric_pairs(0.3), 0.15) == (0, 0.980)

    # Same points below percolation: moderate coarsening.
    assert _divergence(_geometric_pairs(0.1), 0.05) == (0, 0.565)


def test_distributed_fallback_matches_single_linkage_cut(spark, monkeypatch):
    """The coarsening fallback (round cap pinned to 0) computes
    exactly the single-linkage cut the divergence table is measured
    against: force the distributed path on the below-percolation
    geometric family and compare the grouping (labels are
    representation-free via co-pair sets)."""
    from pangenomesasgraphdatabases_spark.graph import rgp_analysis as ra

    monkeypatch.setattr(ra, "_RNN_MAX_ROUNDS", 0)
    pairs = _geometric_pairs(0.1)
    df = spark.createDataFrame(pairs, "item1 string, item2 string, dist double")
    out = linkage_clusters_scalable(df, 0.05, exact_max_pairs=0)
    rows = out.collect()
    connected = {x for a, b, d in pairs if d <= 0.05 for x in (a, b)}
    assert all(r.approx for r in rows if r.item in connected)
    got = _copairs({r.item: r.cluster for r in rows})
    want = _copairs(_single_linkage_cut(pairs, 0.05))
    assert got == want


def test_distributed_exact_per_component_straddles_gate(spark):
    """VERDICT r10 #5: inputs past the DRIVER gate but with components
    inside the per-component gates get the EXACT complete-linkage cut
    (approx=False) from the distributed per-component path — five
    4-item blobs plus cross-blob >threshold pairs, driver gate forced
    down to 10 pairs (total is 40+), each component 6 pairs."""
    from pangenomesasgraphdatabases_spark.graph.rgp_analysis import (
        linkage_clusters_scalable,
    )

    rng = random.Random(5)
    pairs = []
    items = []
    for b in range(5):
        blob = [f"b{b}x{i}" for i in range(4)]
        items += blob
        for i in range(4):
            for j in range(i + 1, 4):
                # within-blob distances straddle the threshold so the
                # exact cut differs from "whole component = cluster"
                pairs.append(
                    (blob[i], blob[j], round(0.05 + 0.5 * rng.random(), 3))
                )
    for k in range(12):  # cross-blob pairs, all above threshold
        a, c = rng.sample(items, 2)
        pairs.append((a, c, round(0.6 + 0.4 * rng.random(), 3)))

    df = spark.createDataFrame(pairs, "item1 string, item2 string, dist double")
    t = 0.3
    out = linkage_clusters_scalable(df, t, exact_max_pairs=10).collect()
    assert all(not r.approx for r in out)
    got = _copairs({r.item: r.cluster for r in out})
    want = _copairs(complete_linkage_clusters(pairs, t))
    assert got == want


def test_distributed_mixed_pathological_and_exact_components(spark, monkeypatch):
    """With the round cap pinned to 0, a percolating chain component
    past the per-component gates gets the single-linkage coarsening
    (approx=True) while small components in the SAME run stay exact
    (approx=False) — the flag is per-component, not per-run."""
    from pangenomesasgraphdatabases_spark.graph import rgp_analysis as ra

    monkeypatch.setattr(ra, "_RNN_MAX_ROUNDS", 0)
    chain = [(f"c{i}", f"c{i + 1}", 0.2) for i in range(30)]  # 30 pairs
    blob = [("p1", "p2", 0.1), ("p1", "p3", 0.5), ("p2", "p3", 0.15)]
    pairs = chain + blob
    df = spark.createDataFrame(pairs, "item1 string, item2 string, dist double")
    # driver gate: 33 pairs > 20 -> distributed; per-component gate 20:
    # the chain (30 pairs) is pathological, the blob (3 pairs) exact.
    out = {r.item: (r.cluster, r.approx) for r in
           ra.linkage_clusters_scalable(df, 0.3, exact_max_pairs=20).collect()}
    assert all(out[f"c{i}"] == ("c0", True) for i in range(31))
    exact_blob = complete_linkage_clusters(blob, 0.3)
    # p1-p2 merge at 0.1; p3 stays out (max(0.5, 0.15) > 0.3)
    assert out["p1"] == ("p1", False) and out["p2"] == ("p1", False)
    assert out["p3"] == ("p3", False)
    assert _partition({k: v for k, v in exact_blob.items()}) == {
        frozenset({"p1", "p2"}), frozenset({"p3"}),
    }


def test_percolating_component_clusters_exactly(spark):
    """VERDICT r11 #5, the planted percolating fixture: the
    above-percolation geometric family (one component spanning all
    200 points at t=0.15 with edges to 0.3) forced past the
    per-component gates now gets the EXACT complete-linkage cut from
    the parallel-RNN loop — approx=False everywhere, partition equal
    to the driver-side NN-chain (full-precision distances, so no
    tie ambiguity)."""
    pairs = _geometric_pairs(0.3)
    df = spark.createDataFrame(pairs, "item1 string, item2 string, dist double")
    t = 0.15
    rows = linkage_clusters_scalable(df, t, exact_max_pairs=0).collect()
    assert all(not r.approx for r in rows)
    got = _copairs({r.item: r.cluster for r in rows})
    want = _copairs(complete_linkage_clusters(pairs, t))
    assert got == want
    # labels are the lexicographic-min member under both paths
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, set()).add(r.item)
    assert all(c == min(members) for c, members in by_cluster.items())


def test_increasing_chain_exact_distributed(spark):
    """The adversarial shape for parallel merging — a chain with
    strictly increasing consecutive distances admits only ONE mutual
    pair per round — still converges inside the default cap at n=16
    (8 sequential merge rounds; n is kept small because each round is
    a full Spark job cycle) and reproduces the exact cut: consecutive
    pairs merge (even, odd), no cluster ever absorbs a third member
    (the skipped pair is missing, i.e. > t under complete linkage)."""
    chain = [
        (f"c{i:02d}", f"c{i + 1:02d}", 0.5 + 0.001 * i) for i in range(15)
    ]
    df = spark.createDataFrame(chain, "item1 string, item2 string, dist double")
    rows = linkage_clusters_scalable(df, 1.0, exact_max_pairs=0).collect()
    assert all(not r.approx for r in rows)
    got = _copairs({r.item: r.cluster for r in rows})
    want = _copairs(complete_linkage_clusters(chain, 1.0))
    assert got == want
    assert frozenset({"c00", "c01"}) in {
        frozenset(p) for p in got
    }  # sanity: the global-min pair merged


def test_round_cap_leftover_coarsens(spark, monkeypatch):
    """A component still unfinished at the round cap falls back to the
    single-linkage coarsening, flagged approx — cap pinned to 2 so a
    10-node increasing chain (needs 5 rounds) is left over, while a
    separate 4-node chain (2 rounds) finishes exactly in the same
    run."""
    from pangenomesasgraphdatabases_spark.graph import rgp_analysis as ra

    monkeypatch.setattr(ra, "_RNN_MAX_ROUNDS", 2)
    long_chain = [
        (f"L{i}", f"L{i + 1}", 0.1 + 0.01 * i) for i in range(9)
    ]
    short_chain = [("S0", "S1", 0.05), ("S2", "S3", 0.06), ("S1", "S2", 0.5)]
    pairs = long_chain + short_chain
    df = spark.createDataFrame(pairs, "item1 string, item2 string, dist double")
    # both components exceed pair gate 0 -> both go to the RNN loop
    out = {
        r.item: (r.cluster, r.approx)
        for r in ra.linkage_clusters_scalable(
            df, 1.0, exact_max_pairs=0
        ).collect()
    }
    # the long chain hit the cap: coarsened to one approx cluster
    assert all(out[f"L{i}"] == ("L0", True) for i in range(10))
    # the short chain finished: exact (S0,S1) and (S2,S3) merge at
    # 0.05/0.06; the S1-S2 bridge at 0.5 then lacks the cross pairs
    assert out["S0"] == ("S0", False) and out["S1"] == ("S0", False)
    assert out["S2"] == ("S2", False) and out["S3"] == ("S2", False)


def test_rnn_path_tolerates_duplicate_pair_rows(spark):
    """A duplicated input pair row must not inflate the RNN loop's
    cross-edge count past size_a*size_b (which would silently make
    the pair unmergeable): n_cross is per distinct unordered pair,
    with max-dist on conflicts."""
    pairs = [
        ("a", "b", 0.1),
        ("b", "a", 0.1),   # same pair, swapped orientation
        ("a", "b", 0.12),  # same pair again, conflicting dist
        ("b", "c", 0.5),
    ]
    df = spark.createDataFrame(pairs, "item1 string, item2 string, dist double")
    out = {
        r.item: (r.cluster, r.approx)
        for r in linkage_clusters_scalable(df, 0.3, exact_max_pairs=0).collect()
    }
    # a-b merges at max(0.1, 0.12) <= t; c stays out (0.5 > t)
    assert out["a"] == ("a", False) and out["b"] == ("a", False)
    assert out["c"] == ("c", False)


def test_parallel_rnn_cut_filters_unfiltered_pairs(spark):
    """ADVICE r12: _parallel_rnn_cut must enforce its own threshold
    precondition — fed an UNFILTERED pair frame (distances above the
    cut included), it must produce the same clusters as the
    pre-filtered call, not over-merge."""
    from pangenomesasgraphdatabases_spark.graph.rgp_analysis import (
        _parallel_rnn_cut,
    )

    # two tight pairs bridged by an over-threshold edge
    pairs = spark.createDataFrame(
        [("c0", "a", "b", 1.0), ("c0", "c", "d", 1.0),
         ("c0", "b", "c", 9.0)],
        ["component", "item1", "item2", "dist"],
    )
    members = spark.createDataFrame(
        [("c0", x) for x in "abcd"], ["component", "item"]
    )
    labels, unfinished = _parallel_rnn_cut(pairs, members, threshold=2.0)
    got = {r.item: r.cl for r in labels.collect()}
    assert got == {"a": "a", "b": "a", "c": "c", "d": "c"}
    assert unfinished is None
