"""Property tests for the round-6 analytics batch: accumulation curve,
skyline, running-distinct, time-weighted average, k-mer minimizers.

The oracle gate proves engine parity; these pin the SEMANTIC
guarantees (dominance, monotonicity, brute-force parity) that parity
alone cannot."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_accumulation_curve_monotone_and_complete(spark):
    from pangenomesasgraphdatabases_spark.queries.analytics_q import (
        gene_accumulation_curve,
    )
    from pangenomesasgraphdatabases_spark.data import table

    rows = sorted(
        gene_accumulation_curve(spark, SF).collect(), key=lambda r: r["strain_rank"]
    )
    assert rows, "curve must be non-empty"
    # Ranks are 1..n with no gaps; cumulative size strictly accounts
    # for every new_genes increment and never decreases.
    assert [r["strain_rank"] for r in rows] == list(range(1, len(rows) + 1))
    running = 0
    for r in rows:
        assert r["new_genes"] >= 0
        running += r["new_genes"]
        assert r["pangenome_size"] == running
    # The curve's final point IS the pangenome: total distinct genes.
    li = table(spark, SF, "lineitem")
    total = li.select("l_partkey").distinct().count()
    assert rows[-1]["pangenome_size"] == total
    # First strain contributes its whole repertoire.
    first_sk = rows[0]["suppkey"]
    first_repertoire = (
        li.filter(F.col("l_suppkey") == first_sk).select("l_partkey").distinct().count()
    )
    assert rows[0]["new_genes"] == first_repertoire


def test_skyline_dominance(spark):
    from pangenomesasgraphdatabases_spark.queries.analytics_q import (
        part_skyline_pareto,
    )
    from pangenomesasgraphdatabases_spark.data import table

    sky = part_skyline_pareto(spark, SF).collect()
    assert sky
    pts = (
        table(spark, SF, "part")
        .select(
            "p_size",
            F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
        )
        .collect()
    )
    all_pts = [(r["p_size"], r["price_cents"]) for r in pts]
    sky_pts = {(r["p_size"], r["best_price_cents"]) for r in sky}
    # No skyline point is dominated (other point >= size and <= price,
    # strictly better on one axis); every non-skyline point IS
    # dominated by some skyline point.
    def dominated(p, q):
        return (
            q[0] >= p[0]
            and q[1] <= p[1]
            and (q[0] > p[0] or q[1] < p[1])
        )

    for s in sky_pts:
        assert not any(dominated(s, q) for q in all_pts), s
    for p in all_pts:
        if p not in sky_pts:
            assert any(dominated(p, s) for s in sky_pts), p


def test_running_distinct_matches_bruteforce(spark):
    from pangenomesasgraphdatabases_spark.queries.windows_q import (
        lineitem_running_distinct,
    )
    from pangenomesasgraphdatabases_spark.data import table

    out = lineitem_running_distinct(spark, SF)
    some_supp = out.select("l_suppkey").distinct().limit(3).collect()
    li = table(spark, SF, "lineitem")
    ship_day = F.expr("CAST(unix_timestamp(l_shipdate) AS BIGINT) div 86400")
    for srow in some_supp:
        sk = srow["l_suppkey"]
        got = {
            (r["ship_day"], r["l_orderkey"], r["l_linenumber"]): r[
                "distinct_parts_so_far"
            ]
            for r in out.filter(F.col("l_suppkey") == sk).collect()
        }
        seq = sorted(
            li.filter(F.col("l_suppkey") == sk)
            .select(
                ship_day.alias("d"), "l_orderkey", "l_linenumber", "l_partkey"
            )
            .collect(),
            key=lambda r: (r["d"], r["l_orderkey"], r["l_linenumber"]),
        )
        seen = set()
        for r in seq:
            seen.add(r["l_partkey"])
            assert got[(r["d"], r["l_orderkey"], r["l_linenumber"])] == len(seen)


def test_time_weighted_avg_bounds_and_single_event_excluded(spark):
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_time_weighted_avg,
    )

    rows = events_time_weighted_avg(spark, SF).collect()
    assert rows
    for r in rows:
        # TWA of positive values lies within [min, max] * 1e6 of the
        # data range (value in [0.01, 490.02]).
        assert 0 < r["twa_micro"] < 500_000_000
        assert r["total_ms"] > 0
        assert r["n_segments"] >= 1
        # Staged division exactness: reconstruct the check
        # num*1000 // den == twa within one unit.
        q = r["num_milli_ms"] * 1000 // r["total_ms"]
        assert abs(q - r["twa_micro"]) <= 1


def test_minimizers_match_bruteforce(spark):
    from pangenomesasgraphdatabases_spark.queries.text_q import doc_kmer_minimizers
    from pangenomesasgraphdatabases_spark.data import table

    import re

    out = doc_kmer_minimizers(spark, SF)
    docs = table(spark, SF, "documents").select("doc_id", "text").limit(5).collect()
    k, w = 6, 4
    for d in docs:
        sq = re.sub(r"[^a-z]", "", d["text"].lower())[:240]
        kmers = [sq[i : i + k] for i in range(len(sq) - k + 1)]
        expect = {}
        for j in range(len(kmers) - w + 1):
            m = min(kmers[j : j + w])
            expect[m] = expect.get(m, 0) + 1
        got = {
            r["minimizer"]: r["n_windows"]
            for r in out.filter(F.col("doc_id") == d["doc_id"]).collect()
        }
        assert got == expect, d["doc_id"]


def test_minimizer_density_property(spark):
    """Minimizers sample ~2/(w+1) of positions — the sketch must be
    much smaller than the k-mer set but never empty for long docs."""
    from pangenomesasgraphdatabases_spark.queries.text_q import doc_kmer_minimizers
    from pangenomesasgraphdatabases_spark.data import table

    out = doc_kmer_minimizers(spark, SF)
    n_docs_sketched = out.select("doc_id").distinct().count()
    n_docs = table(spark, SF, "documents").count()
    assert n_docs_sketched == n_docs
    per_doc = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_min"), F.sum("n_windows").alias("n_win")
    )
    bad = per_doc.filter(
        (F.col("n_min") <= 0) | (F.col("n_min") > F.col("n_win"))
    ).count()
    assert bad == 0
