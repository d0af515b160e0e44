"""Graph algorithms (PageRank, triangle counting) + embedding matrix
statistics (covariance, PCA, semantic dedup) + mixture sampling."""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_pagerank_mass_and_determinism(spark):
    from pangenomesasgraphdatabases_spark.queries.graph_algo_q import (
        _PR_INIT,
        graph_pagerank,
    )

    rows = graph_pagerank(spark, SF).collect()
    n = len(rows)
    assert n > 0
    total = sum(r["rank_micro"] for r in rows)
    # With bidirectional edges there is no dangling mass; only integer
    # truncation leaks rank, bounded by (iters * nodes * max_deg)
    # micro-units — total stays within 5% of the initial mass.
    assert abs(total - n * _PR_INIT) < 0.05 * n * _PR_INIT
    # Bit-exact determinism: a second evaluation of the same lazy plan
    # (fresh DAG, different task scheduling) yields identical integers.
    again = {r["node"]: r["rank_micro"] for r in graph_pagerank(spark, SF).collect()}
    assert {r["node"]: r["rank_micro"] for r in rows} == again


def test_pagerank_favors_high_degree(spark):
    from pangenomesasgraphdatabases_spark.queries.graph_algo_q import graph_pagerank

    df = graph_pagerank(spark, SF)
    top = df.orderBy(F.desc("rank_micro")).limit(10).collect()
    # Suppliers are ~15x rarer than customers in the purchase graph,
    # so they concentrate rank: the top nodes should all be suppliers
    # (odd ids under the custkey*2 / suppkey*2+1 encoding).
    assert all(r["node"] % 2 == 1 for r in top)


def test_triangle_count_matches_bruteforce(spark):
    from pangenomesasgraphdatabases_spark.queries.graph_algo_q import (
        graph_triangle_count,
    )

    got = {
        r["node"]: r["n_triangles"]
        for r in graph_triangle_count(spark, SF).collect()
    }

    # Brute-force reference on the same adjacency, built in python.
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_partkey")
        .collect()
    )
    by_order = defaultdict(list)
    for r in li:
        by_order[r["l_orderkey"]].append((r["l_linenumber"], r["l_partkey"]))
    edges = set()
    for rows in by_order.values():
        seq = [p for _, p in sorted(rows)]
        for a, b in zip(seq, seq[1:]):
            if a != b:
                edges.add((min(a, b), max(a, b)))
    nbrs = defaultdict(set)
    for u, v in edges:
        nbrs[u].add(v)
        nbrs[v].add(u)
    want = defaultdict(int)
    for u, v in edges:
        for w in nbrs[u] & nbrs[v]:
            want[w] += 0  # corner counted below per triangle
    # count triangles once per (a<b<c)
    for u, v in edges:
        for w in nbrs[u] & nbrs[v]:
            if w > v:  # u < v < w guarantees once
                if u < v:
                    want[u] += 1
                    want[v] += 1
                    want[w] += 1
    assert got == dict(want)


def test_triangle_count_ids_straddling_1e7(spark, tmp_path):
    """Adversarial orientation-ordering check: node ids straddle 1e7
    with (deg, id) pairs chosen so the retired packed key
    deg*1e7 + id COLLIDES across distinct nodes (deg=3, id=2 and
    deg=2, id=10_000_002 both packed to 30_000_002) — a collision
    ties the wedge-join's strict comparison and silently drops the
    triangle. The struct/row-value (deg, id) order must count it."""
    from pangenomesasgraphdatabases_spark.queries.graph_algo_q import (
        graph_triangle_count,
    )

    w, x, y, z = 3, 2, 10_000_002, 40_000_000
    # Triangle {w, x, y}; z is an extra neighbour of x lifting its
    # degree to 3 (degrees: w=2, x=3, y=2, z=1).
    edges = [(w, x), (w, y), (x, y), (x, z)]
    rows = []
    for o, (a, b) in enumerate(edges, start=1):
        rows.append((o, 1, a))
        rows.append((o, 2, b))
    spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_partkey long"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r["node"]: r["n_triangles"]
        for r in graph_triangle_count(spark, str(tmp_path)).collect()
    }
    assert got == {w: 1, x: 1, y: 1}


def test_covariance_matches_numpy(spark):
    from pangenomesasgraphdatabases_spark.queries.emb_stats_q import (
        _SCALE,
        emb_covariance,
    )

    rows = emb_covariance(spark, SF).collect()
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    mat = np.array(
        [[round(float(x) * _SCALE) for x in r["embedding"]] for r in emb]
    )
    ref = np.cov(mat, rowvar=False) / _SCALE**2
    for r in rows:
        assert math.isclose(
            r["cov"], ref[r["i"] - 1, r["j"] - 1], rel_tol=1e-9, abs_tol=1e-12
        )


def test_semantic_dedup_canonical_rule(spark):
    from pangenomesasgraphdatabases_spark.queries.emb_stats_q import (
        _SEM_TAU,
        emb_semantic_dedup,
    )

    rows = emb_semantic_dedup(spark, SF).collect()
    emb = {
        r["vec_id"]: np.array([float(x) for x in r["embedding"]])
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    svecs = {k: np.round(v * 1e6) for k, v in emb.items()}
    by_cid = defaultdict(list)
    for r in rows:
        by_cid[r["cid"]].append(r)
    n_dupes = 0
    for members in by_cid.values():
        ids = sorted(m["vec_id"] for m in members)
        flag = {m["vec_id"]: m["is_canonical"] for m in members}
        for v in ids:
            close_smaller = any(
                u < v
                and float(svecs[u] @ svecs[v])
                / (np.linalg.norm(svecs[u]) * np.linalg.norm(svecs[v]))
                >= _SEM_TAU
                for u in ids
            )
            assert flag[v] == (not close_smaller)
            n_dupes += int(close_smaller)
    # The fixture corpus contains planted near-dup embeddings.
    assert n_dupes >= 1


def test_domain_mixture_caps(spark):
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        doc_domain_mixture,
    )

    pdf = doc_domain_mixture(spark, SF).toPandas()
    for src, g in pdf.groupby("source"):
        n = len(g)
        cap = int(math.floor(math.sqrt(n) * 8))
        assert g["n_source"].iloc[0] == n
        assert g["selected"].sum() == min(cap, n)
        # sqrt temperature upsamples small sources: selected fraction
        # decreases as source size grows.
    fracs = (
        pdf.groupby("source")
        .agg(n=("doc_id", "size"), sel=("selected", "sum"))
        .assign(frac=lambda d: d.sel / d.n)
        .sort_values("n")
    )
    assert fracs["frac"].is_monotonic_decreasing


def test_graph_algo_plans(spark):
    from pangenomesasgraphdatabases_spark.queries.emb_stats_q import emb_covariance
    from pangenomesasgraphdatabases_spark.queries.graph_algo_q import (
        graph_pagerank,
        graph_triangle_count,
    )
    from tests.test_plans import _plan

    for q in (graph_pagerank, graph_triangle_count):
        plan = _plan(q(spark, SF))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__
    # Covariance is map-side pair expansion: no join anywhere in the
    # plan, and the only exchange is the 2080-cell aggregation.
    plan = _plan(emb_covariance(spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_kcore_fixpoint_and_min_degree(spark):
    """The unrolled peel must have converged (one more round removes
    nothing) and every surviving node has core_deg >= K."""
    from pangenomesasgraphdatabases_spark.queries.graph_algo_q import (
        _KCORE_K,
        _bidir_edges,
        _synteny_adj,
        graph_kcore,
    )

    sf = "/root/testdata/sf0.01"
    out = graph_kcore(spark, sf).cache()
    assert out.count() > 0, "core is empty — K is set above the densest core"
    assert out.filter(F.col("core_deg") < _KCORE_K).isEmpty()
    # Fixpoint: the surviving node set induces exactly the surviving
    # degree — peel once more by hand and nothing changes.
    nodes = out.select("node")
    e = _bidir_edges(_synteny_adj(spark, sf))
    induced = (
        e.join(nodes.withColumnRenamed("node", "src"), "src")
        .join(nodes.withColumnRenamed("node", "dst"), "dst")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    assert induced.filter(F.col("deg") < _KCORE_K).isEmpty()
    spark.catalog.clearCache()


def test_degree_stats_totals(spark):
    """Degree histogram masses: sum(deg * n_nodes) = 2 * |edges|,
    sum(n_nodes) = |nodes|."""
    from pangenomesasgraphdatabases_spark.queries.graph_algo_q import (
        _synteny_adj,
        graph_degree_stats,
    )

    sf = "/root/testdata/sf0.01"
    out = graph_degree_stats(spark, sf)
    tot = out.agg(
        F.sum(F.col("deg") * F.col("n_nodes")).alias("mass"),
        F.sum("n_nodes").alias("nodes"),
    ).collect()[0]
    n_edges = _synteny_adj(spark, sf).count()
    assert tot.mass == 2 * n_edges
    assert tot.nodes > 0


def test_components_vs_library_operator(spark):
    """The unrolled fixed-iteration components query must agree with
    the iterate-to-convergence library operator on the same graph."""
    from pangenomesasgraphdatabases_spark.operators.components import (
        connected_components,
    )
    from pangenomesasgraphdatabases_spark.queries.graph_algo_q import (
        _bidir_edges,
        _synteny_adj,
        graph_components,
    )

    sf = "/root/testdata/sf0.01"
    unrolled = graph_components(spark, sf)
    adj = _synteny_adj(spark, sf).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    lib = connected_components(adj)
    diff = unrolled.withColumnRenamed("component", "c1").join(
        lib.withColumnRenamed("component", "c2"), "node", "full"
    )
    assert diff.filter(
        F.col("c1").isNull() | F.col("c2").isNull() | (F.col("c1") != F.col("c2"))
    ).isEmpty()


def test_power_iteration_rayleigh_and_exact_replication(spark):
    """The fixed-iteration power method must (a) monotonically
    increase the Rayleigh quotient toward the top eigenvalue — the
    guarantee that holds regardless of eigengap (the synthetic corpus
    is near-isotropic, lambda2/lambda1 ~ 0.99, so 12 steps cannot
    CONVERGE here and the test must not demand it) — and (b) the
    operator's projections must exactly match an independent numpy
    replication of the same 12 left-fold steps."""
    from pangenomesasgraphdatabases_spark.queries.emb_stats_q import (
        _DIM,
        _PI_ITERS,
        emb_covariance,
        emb_power_iteration_pc1,
    )

    sf = "/root/testdata/sf0.001"
    cells = emb_covariance(spark, sf).collect()
    cov = np.zeros((_DIM, _DIM))
    for r in cells:
        cov[r["i"] - 1, r["j"] - 1] = r["cov"]
        cov[r["j"] - 1, r["i"] - 1] = r["cov"]
    vals = np.linalg.eigvalsh(cov)
    top_val = float(vals[-1])

    v = np.ones(_DIM) / np.sqrt(_DIM)
    prev_rq = float(v @ cov @ v)
    for _ in range(_PI_ITERS):
        w = cov @ v
        v = w / np.linalg.norm(w)
        rq = float(v @ cov @ v)
        assert rq >= prev_rq - 1e-12 and rq <= top_val + 1e-12
        prev_rq = rq

    # Exact replication of the operator's own arithmetic.
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }
    vv = np.ones(_DIM)
    for _ in range(_PI_ITERS):
        w = cov @ vv
        vv = w / np.linalg.norm(w)
    got = emb_power_iteration_pc1(spark, sf).toPandas()
    for _, row in got.iterrows():
        want = float(emb[row.vec_id] @ vv)
        assert abs(row.pc1 - want) < 1e-9, row.vec_id


def test_deflated_pc2_orthogonal_and_exact(spark):
    """The deflated second direction must be orthogonal to the first
    (Hotelling deflation removes the v-component every step) and the
    operator's projections must match an independent numpy replication
    of the same left-fold arithmetic."""
    from pangenomesasgraphdatabases_spark.queries.emb_stats_q import (
        _DIM,
        _pi_directions,
        emb_covariance,
        emb_power_iteration_pc2,
    )

    sf = "/root/testdata/sf0.001"
    cells = emb_covariance(spark, sf).collect()
    v, u = _pi_directions(cells)
    va, ua = np.array(v), np.array(u)
    assert abs(float(va @ ua)) < 1e-12
    assert abs(np.linalg.norm(va) - 1) < 1e-12
    assert abs(np.linalg.norm(ua) - 1) < 1e-12
    # Rayleigh quotients stay inside the spectrum (no ordering claim:
    # the synthetic corpus is near-isotropic, so 12 steps leave v
    # partially converged and u's quotient may exceed v's).
    cov = np.zeros((_DIM, _DIM))
    for r in cells:
        cov[r["i"] - 1, r["j"] - 1] = r["cov"]
        cov[r["j"] - 1, r["i"] - 1] = r["cov"]
    vals = np.linalg.eigvalsh(cov)
    for w in (va, ua):
        rq = float(w @ cov @ w)
        assert vals[0] - 1e-12 <= rq <= vals[-1] + 1e-12

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }
    got = emb_power_iteration_pc2(spark, sf).toPandas()
    for _, row in got.iterrows():
        assert abs(row.pc1 - float(emb[row.vec_id] @ va)) < 1e-9
        assert abs(row.pc2 - float(emb[row.vec_id] @ ua)) < 1e-9


def test_emb_decontaminate_matches_numpy_and_map_only(spark):
    """Embedding decontamination: flags match a brute-force numpy
    check, and the corpus scan is map-only (benchmark folded in as
    literals — no join, no shuffle)."""
    from pangenomesasgraphdatabases_spark.queries.emb_stats_q import (
        _DECON_BENCH_LABEL,
        _DECON_TAU,
        _SCALE,
        emb_decontaminate,
    )
    from tests.test_plans import _plan

    out = emb_decontaminate(spark, SF)
    plan = _plan(out)
    assert "Join" not in plan and "Exchange" not in plan

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    svecs = {
        r.vec_id: (np.round(np.array(r.embedding, dtype=np.float64) * _SCALE), r.label)
        for r in emb
    }
    bench = [v for v, lab in svecs.values() if lab == _DECON_BENCH_LABEL]
    got = {r.vec_id: (r.contaminated, r.max_bench_cos) for r in out.collect()}
    n_contam = 0
    for vid, (v, lab) in svecs.items():
        if lab == _DECON_BENCH_LABEL:
            assert vid not in got
            continue
        best = max(
            float(v @ b) / (np.linalg.norm(v) * np.linalg.norm(b)) for b in bench
        )
        assert abs(got[vid][1] - best) < 1e-9, vid
        assert got[vid][0] == (got[vid][1] >= _DECON_TAU)
        n_contam += int(got[vid][0])
    assert n_contam >= 1  # planted near-dups make this non-vacuous


def test_emb_decontaminate_tiers_identical(spark, monkeypatch):
    """The literal-fold tier and the broadcast-join tier must produce
    bit-identical rows (exact integer operands; max is order-free) —
    the tier gate is an execution choice, never a semantics choice."""
    import pangenomesasgraphdatabases_spark.queries.emb_stats_q as M

    lit = sorted(map(tuple, M.emb_decontaminate(spark, SF).collect()))
    monkeypatch.setattr(M, "_DECON_LIT_MAX", 0)
    bj = sorted(map(tuple, M.emb_decontaminate(spark, SF).collect()))
    assert lit == bj


def test_emb_decontaminate_empty_benchmark(spark, tmp_path):
    """With no benchmark vectors (no label-9 rows) the whole corpus is
    returned unflagged with a null score — not an IndexError from an
    empty literal fold and not a row-dropping empty crossJoin."""
    from pangenomesasgraphdatabases_spark.queries.emb_stats_q import (
        emb_decontaminate,
    )

    src = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("label") != 9)
    n = src.count()
    src.write.parquet(f"{tmp_path}/embeddings.parquet")
    out = emb_decontaminate(spark, str(tmp_path)).collect()
    assert len(out) == n
    assert all(r.max_bench_cos is None and r.contaminated is False for r in out)


def test_lpa_deterministic_and_communities_connected(spark):
    """Two runs produce identical labels (the synchronous mode-update
    with total tie order is deterministic, unlike async LPA), every
    node keeps a label that exists among its 2-hop neighbourhood's
    initial labels, and community sizes sum to the node count."""
    from pangenomesasgraphdatabases_spark.queries.graph_algo_q import (
        graph_label_propagation,
    )

    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, graph_label_propagation(spark, sf).collect()))
    b = sorted(map(tuple, graph_label_propagation(spark, sf).collect()))
    assert a == b
    n_nodes = len(a)
    sizes = {}
    for node, comm, size in a:
        sizes[comm] = size
    assert sum(sizes.values()) == n_nodes


def test_join_view_ivm_merge_equals_full(spark):
    """The delta-join algebra must equal the one-shot join view, and
    all three delta terms must be non-empty on the fixture data (else
    the proof is vacuous)."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        orders_join_view_ivm,
    )

    sf = "/root/testdata/sf0.001"
    got = {r.custkey: (r.n_items, r.revenue_cents)
           for r in orders_join_view_ivm(spark, sf).collect()}
    li = table(spark, sf, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    od = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    want = {
        r.o_custkey: (r.n, r.s)
        for r in li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .collect()
    }
    assert got == want
    for lmod, omod in ((0, 1), (1, 0), (0, 0)):
        n = (
            li.filter((F.col("l_orderkey") % 10 == 0) == (lmod == 0))
            .join(
                od.filter((F.col("o_orderkey") % 7 == 0) == (omod == 0)),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert n > 0, f"delta term ({lmod},{omod}) is empty"


def test_data_quality_checks_find_known_defect(spark):
    """FK, range, non-null, and date-window checks are clean on the
    generated data — but the uniqueness check must FIRE: the driver
    testdata's lineitem has no unique (orderkey, linenumber) key (the
    documented windows_q ordering gotcha), so the suite proves it
    detects a real defect, not just vacuous truth."""
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        data_quality_checks,
    )

    rows = {r.check_name: r for r in data_quality_checks(
        spark, "/root/testdata/sf0.001").collect()}
    assert len(rows) == 5
    for name in ("fk_orders_custkey", "range_l_quantity",
                 "nonnull_o_orderpriority", "shipdate_in_window"):
        assert rows[name].n_violations == 0, name
        assert rows[name].n_total > 0
    assert rows["unique_lineitem_line"].n_violations > 0


def test_rfm_quintiles_balanced_and_monotone(spark):
    """ntile(5) buckets differ in size by at most one per dimension,
    and a higher score never has a smaller dimension value at the
    boundary (monotone by construction of the total order)."""
    from collections import Counter

    from pangenomesasgraphdatabases_spark.queries.analytics_q import (
        customer_rfm_segments,
    )

    rows = customer_rfm_segments(spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    assert n > 0
    for col, val in (
        ("r_score", "last_order_es"),
        ("f_score", "frequency"),
        ("m_score", "monetary_cents"),
    ):
        sizes = Counter(getattr(r, col) for r in rows)
        assert set(sizes) == {1, 2, 3, 4, 5}
        assert max(sizes.values()) - min(sizes.values()) <= 1
        by_score = sorted(rows, key=lambda r: (getattr(r, col), getattr(r, val)))
        maxes = {}
        for r in rows:
            s = getattr(r, col)
            maxes.setdefault(s, []).append(getattr(r, val))
        for s in range(1, 5):
            assert min(maxes[s + 1]) >= min(maxes[s])


def test_markov_rows_normalize_and_count_steps(spark):
    """Per-from-state probabilities sum to ~1e6 (integer division
    truncation only) and total transitions = events - users-with-
    events."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_markov_transitions,
    )

    sf = "/root/testdata/sf0.001"
    rows = events_markov_transitions(spark, sf).collect()
    by_from = {}
    for r in rows:
        by_from.setdefault(r.prev_type, []).append(r)
    for ft, rs in by_from.items():
        total_p = sum(r.p_micro for r in rs)
        assert 1_000_000 - len(rs) < total_p <= 1_000_000, ft
        assert all(r.n_from == rs[0].n_from for r in rs)
        assert sum(r.n for r in rs) == rs[0].n_from
    e = table(spark, sf, "events")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    assert sum(r.n for r in rows) == n_events - n_users


def test_link_prediction_scores_consistent(spark):
    """Jaccard <= 1e6; common_neighbors <= min degree; Adamic-Adar of
    a pair equals the Python recomputation from the adjacency."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.queries.graph_algo_q import (
        graph_link_prediction,
    )
    import math

    sf = "/root/testdata/sf0.001"
    rows = graph_link_prediction(spark, sf).collect()
    assert rows, "pairs exist at sf0.001"
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    od = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    adj = {
        (r.o_custkey, r.l_suppkey)
        for r in li.join(od, li.l_orderkey == od.o_orderkey).collect()
    }
    by_supp = {}
    cdeg = {}
    for c, s in adj:
        by_supp.setdefault(s, set()).add(c)
        cdeg[c] = cdeg.get(c, 0) + 1
    for r in rows[:20]:
        ca, cb = by_supp[r.supp_a], by_supp[r.supp_b]
        common = ca & cb
        assert r.common_neighbors == len(common) >= 3
        assert r.jaccard_micro == len(common) * 1_000_000 // len(ca | cb)
        want_aa = sum(
            10_000_000_000 // round(math.log(cdeg[z]) * 10000) for z in common
        )
        assert r.adamic_adar_fx == want_aa
