"""Sequence-function unit + property tests (SURVEY.md section 5.3)."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.functions.sequence import (
    cai_py,
    delta_decode_py,
    delta_encode,
    delta_encode_py,
    gc_content,
)

DNA = "ACGT-"


def test_delta_encode_identical():
    assert delta_encode_py("ACGT", "ACGT") == ""


def test_delta_encode_known():
    # diff at index 1 (C->G) and index 3 (T->A): "1G2A"
    assert delta_encode_py("AGGA", "ACGT") == "1G2A"


def test_delta_decode_known():
    assert delta_decode_py("1G2A", "ACGT") == "AGGA"


def test_delta_decode_strips_gaps():
    assert delta_decode_py("", "AC-GT") == "ACGT"
    assert delta_decode_py(None, "AC-GT") == "ACGT"


@given(
    st.lists(st.sampled_from(DNA), min_size=1, max_size=60),
    st.randoms(use_true_random=False),
)
@settings(max_examples=200, deadline=None)
def test_roundtrip_property(ref_chars, rnd):
    """decode(encode(s, ref), ref) == s.replace('-','') for equal-length
    sequences (SURVEY.md section 5 property test)."""
    ref = "".join(ref_chars)
    seq = "".join(rnd.choice("ACGT") for _ in ref)
    var = delta_encode_py(seq, ref)
    assert delta_decode_py(var, ref) == seq.replace("-", "")


def test_pandas_udf_matches_py(spark):
    rng = random.Random(7)
    rows = []
    for i in range(50):
        ref = "".join(rng.choice("ACGT") for _ in range(30))
        seq = "".join(
            c if rng.random() < 0.8 else rng.choice("ACGT") for c in ref
        )
        rows.append((seq, ref))
    df = spark.createDataFrame(rows, ["seq", "ref"])
    got = df.select("seq", "ref", delta_encode("seq", "ref").alias("v")).collect()
    for r in got:
        assert r.v == delta_encode_py(r.seq, r.ref)


def test_gc_content_expr(spark):
    df = spark.createDataFrame([("GCGC",), ("ATAT",), ("GCAT",), ("gcsa",)], ["seq"])
    vals = [r.pct for r in df.select(gc_content("seq").alias("pct")).collect()]
    assert vals == [100.0, 0.0, 50.0, 75.0]


def test_cai_sharp_ecoli():
    import math

    assert cai_py(None) is None
    # illegal codon (the reference's N-filter is dead code; an N codon
    # raises inside cai_for_gene -> NaN path)
    assert cai_py("NNN") is None
    # trailing partial codon -> illegal -> None
    assert cai_py("GCTGC") is None
    # hand-computed against Sharp & Li w-values with Biopython's n-0.5
    # denominator: GCT (w=1) alone -> exp(log(1)/0.5) = 1
    assert cai_py("GCT") == 1.0
    # GCT+GCA -> exp((log 1 + log 0.586) / 1.5) = 0.586**(2/3)
    assert math.isclose(cai_py("GCTGCA"), 0.586 ** (2.0 / 3.0), rel_tol=1e-12)
    # ATG excluded, GCC w=0.122 -> exp(log 0.122 / 0.5) = 0.122**2
    assert math.isclose(cai_py("ATGGCC"), 0.122**2, rel_tol=1e-12)
    # all-excluded sequence hits Biopython's exp(0 / -0.5) = 1.0 quirk
    assert cai_py("ATGTGGTAA") == 1.0
    # lowercase input is uppercased only when fully lowercase
    assert cai_py("gctgca") == cai_py("GCTGCA")


def test_t_pvalue_approximation_error_bound():
    """The documented error bound of functions/stats.py's t->p
    approximation, checked against an exact Student-t CDF computed via
    the regularized incomplete beta continued fraction (Numerical
    Recipes 6.4 betacf; pure python, no scipy)."""
    import math

    def betacf(a, b, x):
        qab, qap, qam = a + b, a + 1.0, a - 1.0
        c, d = 1.0, 1.0 - qab * x / qap
        if abs(d) < 1e-30:
            d = 1e-30
        d = 1.0 / d
        h = d
        for m in range(1, 200):
            m2 = 2 * m
            aa = m * (b - m) * x / ((qam + m2) * (a + m2))
            d = 1.0 + aa * d
            if abs(d) < 1e-30:
                d = 1e-30
            c = 1.0 + aa / c
            if abs(c) < 1e-30:
                c = 1e-30
            d = 1.0 / d
            h *= d * c
            aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
            d = 1.0 + aa * d
            if abs(d) < 1e-30:
                d = 1e-30
            c = 1.0 + aa / c
            if abs(c) < 1e-30:
                c = 1e-30
            d = 1.0 / d
            delta = d * c
            h *= delta
            if abs(delta - 1.0) < 1e-12:
                break
        return h

    def betainc_reg(a, b, x):
        if x <= 0:
            return 0.0
        if x >= 1:
            return 1.0
        ln_front = (
            math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
            + a * math.log(x) + b * math.log(1.0 - x)
        )
        front = math.exp(ln_front)
        if x < (a + 1.0) / (a + b + 2.0):
            return front * betacf(a, b, x) / a
        return 1.0 - front * betacf(b, a, 1.0 - x) / b

    def p_exact(t, df):
        return betainc_reg(df / 2.0, 0.5, df / (df + t * t))

    def p_approx(t, df):  # python twin of stats.t_pvalue_sql / _col
        zt = abs(t) * (1.0 - 1.0 / (4.0 * df)) / math.sqrt(1.0 + t * t / (2.0 * df))
        x = zt / math.sqrt(2.0)
        u = 1.0 / (1.0 + 0.3275911 * x)
        poly = (
            (((1.061405429 * u - 1.453152027) * u + 1.421413741) * u - 0.284496736)
            * u
            + 0.254829592
        ) * u
        return poly * math.exp(-x * x)

    # sanity: the exact CDF reproduces the normal limit
    assert abs(p_exact(1.959964, 1e8) - 0.05) < 1e-6

    for t in (0.0, 0.5, 1.0, 2.0, 3.0, 5.0):
        for df, bound in ((10, 2e-3), (30, 2e-4), (100, 2e-5), (5000, 2e-7)):
            assert abs(p_approx(t, df) - p_exact(t, df)) < bound, (t, df)


def test_mannwhitney_matches_bruteforce(spark):
    """2U from the histogram fold equals the O(n^2) pair definition
    (#{a>b} + half-ties, doubled), and the rounded z/p agree with a
    direct Python evaluation of the same tie-corrected normal
    approximation (A&S erfc error is ~1e-7, far under the rounding)."""
    import math

    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.queries.functions_q import (
        events_mannwhitney_value,
    )

    sf = "/root/testdata/sf0.001"
    row = events_mannwhitney_value(spark, sf).collect()[0]

    ev = (
        spark.read.parquet(f"{sf}/events.parquet")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select("event_type", F.round(F.col("value") * 1000000).cast("bigint").alias("v"))
        .collect()
    )
    a = [r.v for r in ev if r.event_type == "purchase"]
    b = [r.v for r in ev if r.event_type == "click"]
    assert (row.n1, row.n2) == (len(a), len(b))
    u2 = sum(2 if x > y else (1 if x == y else 0) for x in a for y in b)
    assert row.u2 == u2

    from collections import Counter

    ties = Counter(a + b)
    tt = sum(t**3 - t for t in ties.values())
    assert row.tt == tt
    n1, n2, n = len(a), len(b), len(a) + len(b)
    sigma = math.sqrt((n1 * n2 / 12.0) * ((n + 1.0) - tt / (n * (n - 1.0))))
    z = (u2 - n1 * n2) / (2.0 * sigma)
    assert abs(row.z_stat - round(z, 4)) <= 1e-4
    p = math.erfc(abs(z) / math.sqrt(2.0))
    assert abs(row.p_two_sided - p) <= 1e-5
    assert 0.0 <= row.p_two_sided <= 1.0
