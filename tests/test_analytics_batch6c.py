"""Property tests for the round-6 third batch: MIPS, containment,
weighted median, cohort LTV, minimizer match pairs."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_mips_differs_from_cosine_and_augmentation_equivalence(spark):
    """MIPS ordering == cosine ordering of norm-augmented vectors
    (Bachrach 2014) — the reduction the docstring claims."""
    from pangenomesasgraphdatabases_spark.queries.vectors_q import ann_mips_topk
    from pangenomesasgraphdatabases_spark.data import table

    out = defaultdict(list)
    for r in ann_mips_topk(spark, SF).collect():
        out[r["query_id"]].append((r["rank"], r["neighbor_id"], r["inner_product"]))
    assert set(out) == {0, 1, 2, 3, 4}
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in table(spark, SF, "embeddings").collect()
    }
    m2 = max(sum(x * x for x in v) for v in vecs.values())
    for qid, got in out.items():
        got.sort()
        assert [g[0] for g in got] == list(range(1, 11))
        q = vecs[qid]
        # Brute-force MIPS ranking with the same rounding/tie rule.
        scored = sorted(
            (
                (-round(sum(a * b for a, b in zip(q, v)), 6), nid)
                for nid, v in vecs.items()
                if nid != qid
            ),
        )[:10]
        assert [g[1] for g in got] == [nid for _, nid in scored]
        # Augmentation: candidate -> [v, sqrt(M^2-|v|^2)], query ->
        # [q, 0].  Cosine of augmented pairs orders exactly like the
        # raw inner product (augmented candidate norms are all M).
        qa = q + [0.0]
        aug_rank = sorted(
            (
                (
                    -sum(a * b for a, b in zip(qa, v + [math.sqrt(m2 - sum(x * x for x in v))]))
                    / (math.sqrt(sum(x * x for x in qa)) * math.sqrt(m2)),
                    nid,
                )
                for nid, v in vecs.items()
                if nid != qid
            ),
        )[:10]
        raw_rank = sorted(
            (
                (-sum(a * b for a, b in zip(q, v)), nid)
                for nid, v in vecs.items()
                if nid != qid
            ),
        )[:10]
        assert [n for _, n in aug_rank] == [n for _, n in raw_rank]


def test_containment_bounds_and_asymmetry(spark):
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_jaccard_containment,
    )

    rows = doc_jaccard_containment(spark, SF).collect()
    assert rows
    seen = {}
    for r in rows:
        assert 0 < r["n_common"] <= r["sz_src"]
        assert 500_000 <= r["containment_micro"] <= 1_000_000
        assert r["containment_micro"] == r["n_common"] * 1_000_000 // r["sz_src"]
        seen[(r["src"], r["dst"])] = r
    # Where both directions survive the threshold, the shared
    # intersection count must agree (the measure is asymmetric only
    # through the denominator).
    for (s, d), r in seen.items():
        if (d, s) in seen:
            assert seen[(d, s)]["n_common"] == r["n_common"]


def test_weighted_median_definition(spark):
    from pangenomesasgraphdatabases_spark.queries.analytics_q import (
        lineitem_weighted_median,
    )
    from pangenomesasgraphdatabases_spark.data import table

    out = {r["l_returnflag"]: r for r in lineitem_weighted_median(spark, SF).collect()}
    li = table(spark, SF, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    groups = defaultdict(list)
    for r in li.collect():
        groups[r["l_returnflag"]].append(
            (round(r["l_extendedprice"] * 100), round(r["l_quantity"]))
        )
    for flag, pts in groups.items():
        pts.sort()
        tw = sum(w for _, w in pts)
        cw = 0
        med = None
        for p, w in pts:
            cw += w
            if 2 * cw >= tw:
                med = p
                break
        r = out[flag]
        assert r["weighted_median_cents"] == med
        assert r["total_weight"] == tw


def test_cohort_ltv_reconciles(spark):
    from pangenomesasgraphdatabases_spark.queries.analytics_q import orders_cohort_ltv
    from pangenomesasgraphdatabases_spark.data import table

    rows = orders_cohort_ltv(spark, SF).collect()
    assert rows
    o = table(spark, SF, "orders")
    total_cents = o.agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
    ).collect()[0][0]
    assert sum(r["total_cents"] for r in rows) == total_cents
    # age 0 exists for every cohort (the acquisition month itself) and
    # each cohort's age-0 customer count is the cohort size.
    by_cohort = defaultdict(dict)
    for r in rows:
        assert r["age_months"] >= 0
        by_cohort[r["cohort_midx"]][r["age_months"]] = r
    n_customers = o.select("o_custkey").distinct().count()
    assert sum(c[0]["n_customers"] for c in by_cohort.values()) == n_customers
    # Retention never exceeds cohort size.
    for cohort, ages in by_cohort.items():
        size = ages[0]["n_customers"]
        for a, r in ages.items():
            assert r["n_customers"] <= size


def test_minimizer_pairs_are_exact_shared_counts(spark):
    from pangenomesasgraphdatabases_spark.queries.text_q import (
        doc_minimizer_match_pairs,
        doc_kmer_minimizers,
        _MINIMIZER_DF_CAP,
        _MINIMIZER_MIN_SHARED,
    )

    pairs = doc_minimizer_match_pairs(spark, SF).collect()
    sketch = defaultdict(set)
    for r in doc_kmer_minimizers(spark, SF).collect():
        sketch[r["doc_id"]].add(r["minimizer"])
    # docfreq over the whole corpus.
    df = defaultdict(int)
    for s in sketch.values():
        for m in s:
            df[m] += 1
    keep = {m for m, c in df.items() if 2 <= c <= _MINIMIZER_DF_CAP}
    expect = {}
    docs = sorted(sketch)
    for i, d1 in enumerate(docs):
        s1 = sketch[d1] & keep
        for d2 in docs[i + 1 :]:
            n = len(s1 & sketch[d2])
            if n >= _MINIMIZER_MIN_SHARED:
                expect[(d1, d2)] = n
    got = {(r["doc1"], r["doc2"]): r["n_shared"] for r in pairs}
    assert got == expect
