"""Builtin seed-and-extend aligner (operators/seed_align) — the
no-binary S11 path: planted-alignment semantics, X-drop termination,
the overrepresented-word cap, and the enrich writeback adapter."""

from __future__ import annotations

import math

from pangenomesasgraphdatabases_spark.operators import seed_align
from pangenomesasgraphdatabases_spark.operators.seed_align import (
    KA_K,
    KA_LAMBDA,
    builtin_blast_hits,
    builtin_hits_as_blast_table,
    with_bitscore,
)

# deterministic pseudo-random ACGT with no repeated 11-mers
_BASES = "ACGT"


def _seq(seed: int, n: int) -> str:
    x = seed
    out = []
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % 2**64
        out.append(_BASES[(x >> 33) & 3])
    return "".join(out)


def _frames(spark, queries, subjects):
    q = spark.createDataFrame(queries, ["query_id", "sequence"])
    s = spark.createDataFrame(subjects, ["subject_id", "sequence"])
    return q, s


def test_exact_embedded_query_found(spark):
    """A query cut verbatim from inside a subject yields one
    full-length exact HSP at the right coordinates."""
    subj = _seq(1, 300)
    query = subj[80:140]  # 60 nt
    q, s = _frames(spark, [("q1", query)], [("s1", subj)])
    hits = builtin_blast_hits(q, s).collect()
    assert len(hits) == 1
    h = hits[0]
    assert (h.q_start, h.s_start) == (1, 81)
    assert h.align_len == 60 and h.n_matches == 60 and h.score == 60


def test_mismatches_extended_through_and_scored(spark):
    """Two point mutations inside the query: extension crosses them
    (drop 2 < xdrop) and the score is exactly m - 2*(L - m)."""
    subj = _seq(2, 300)
    query = list(subj[100:160])  # 60 nt
    for pos in (20, 40):
        query[pos] = {"A": "C", "C": "G", "G": "T", "T": "A"}[query[pos]]
    q, s = _frames(spark, [("q1", "".join(query))], [("s1", subj)])
    hits = builtin_blast_hits(q, s).collect()
    assert len(hits) == 1
    h = hits[0]
    assert h.align_len == 60 and h.n_matches == 58
    assert h.score == 58 - 2 * 2
    assert h.s_start == 101


def test_xdrop_terminates_at_junk_boundary(spark):
    """Query = 40 nt of subject + 40 nt of unrelated junk: the HSP
    stops at the homology boundary instead of dragging through the
    junk (X-drop), so align_len stays ~40 with all matches."""
    subj = _seq(3, 300)
    query = subj[50:90] + _seq(99, 40)
    q, s = _frames(spark, [("q1", query)], [("s1", subj)])
    hits = builtin_blast_hits(q, s).collect()
    assert len(hits) == 1
    h = hits[0]
    assert h.q_start == 1 and h.s_start == 51
    # the boundary may extend a few lucky chance matches past 40
    assert 40 <= h.align_len <= 48
    assert h.score >= 38


def test_overrepresented_kmer_cap_blocks_polyA(spark, monkeypatch):
    """A poly-A query against poly-A-rich subjects: every 11-mer
    exceeds MAX_KMER_DF, so no seeds form (BLAST's low-complexity
    trade) — while a unique query still hits."""
    polyA = "A" * 200
    uniq = _seq(4, 200)
    q, s = _frames(
        spark,
        [("qA", "A" * 40), ("qU", uniq[60:120])],
        [(f"s{i}", polyA) for i in range(3)] + [("sU", uniq)],
    )
    monkeypatch.setattr(seed_align, "MAX_KMER_DF", 16)
    hits = builtin_blast_hits(q, s).collect()
    by_q = {}
    for h in hits:
        by_q.setdefault(h.query_id, []).append(h)
    assert "qA" not in by_q  # masked: 3 subjects x 190 positions >> 16
    assert len(by_q["qU"]) == 1 and by_q["qU"][0].subject_id == "sU"


def test_bitscore_and_enrich_adapter(spark):
    """Karlin-Altschul columns and the blast-table adapter: bit score
    matches the closed form, e-value = m*n*2^-bit, and the adapter
    feeds enrich_clusters_with_blast unchanged."""
    from pangenomesasgraphdatabases_spark.graph.enrich import (
        enrich_clusters_with_blast,
    )

    subj = _seq(5, 300)
    q, s = _frames(spark, [("c1", subj[10:90])], [("virus1", subj)])
    hits = with_bitscore(builtin_blast_hits(q, s), m=80, n=300)
    h = hits.collect()[0]
    want_bit = (KA_LAMBDA * h.score - math.log(KA_K)) / math.log(2.0)
    assert abs(h.bit_score - want_bit) < 1e-9
    assert abs(h.evalue - 80 * 300 * 2.0 ** (-want_bit)) < 1e-12

    table = builtin_hits_as_blast_table(hits)
    clusters = spark.createDataFrame(
        [("c1",), ("c2",)], ["cluster_id"]
    )
    out = {r.cluster_id: r for r in
           enrich_clusters_with_blast(clusters, table).collect()}
    assert out["c1"].hasBlastVirusHit is True
    assert out["c1"].blastTitlesVirus == ["virus1"]
    assert out["c2"].hasBlastVirusHit is False


def test_registered_query_matches_local_oracle(spark):
    """blast_builtin_exact_hits equals its own DuckDB oracle row-for-
    row (the structural exact-substring argument)."""
    import duckdb

    from pangenomesasgraphdatabases_spark.queries.registry import all_queries

    qq = all_queries()["blast_builtin_exact_hits"]
    got = sorted(
        tuple(r) for r in qq.fn(spark, "/root/testdata/sf0.001").collect()
    )
    want = sorted(tuple(r) for r in duckdb.sql(qq.oracle).fetchall())
    assert got == want and len(got) == 24


def test_gapped_alignment_crosses_indel(spark):
    """A single-nt deletion in the query: the ungapped path can only
    report one side of the break, the banded gapped path aligns
    through it — 59 matches, 1 gap, score 59 - 3."""
    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        builtin_blast_hits_gapped,
    )

    subj = _seq(7, 300)
    cut = subj[100:160]  # 60 nt
    query = cut[:30] + cut[31:]  # delete position 30 -> 59 nt
    q, s = _frames(spark, [("q1", query)], [("s1", subj)])

    ungapped = builtin_blast_hits(q, s).collect()
    assert all(h.align_len <= 35 for h in ungapped)  # one side only

    gapped = builtin_blast_hits_gapped(q, s).collect()
    assert len(gapped) == 1
    h = gapped[0]
    assert h.gaps == 1 and h.n_matches == 59
    assert h.score == 59 - 3
    assert h.align_len == 60  # 59 matches + 1 gap column
    assert (h.q_start, h.s_start) == (1, 101)


def test_gapped_matches_ungapped_on_clean_hit(spark):
    """No indels: the gapped path reproduces the ungapped full-length
    exact hit with zero gaps (the band never pays when unused)."""
    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        builtin_blast_hits_gapped,
    )

    subj = _seq(8, 300)
    query = subj[40:100]
    q, s = _frames(spark, [("q1", query)], [("s1", subj)])
    hits = builtin_blast_hits_gapped(q, s).collect()
    assert len(hits) == 1
    h = hits[0]
    assert (h.align_len, h.n_matches, h.score, h.gaps) == (60, 60, 60, 0)
    assert (h.q_start, h.s_start) == (1, 41)


def test_gapped_insertion_in_query(spark):
    """A single-nt insertion in the query (gap in the SUBJECT row):
    aligned through with one gap column."""
    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        builtin_blast_hits_gapped,
    )

    subj = _seq(9, 300)
    cut = subj[50:110]  # 60 nt
    query = cut[:25] + "A" + cut[25:]  # 61 nt (insertion may match by luck)
    q, s = _frames(spark, [("q1", query)], [("s1", subj)])
    hits = builtin_blast_hits_gapped(q, s).collect()
    assert len(hits) == 1
    h = hits[0]
    assert h.gaps == 1 and h.n_matches >= 60
    assert h.score >= 60 - 3


def test_two_islands_same_diagonal_yield_two_hsps(spark):
    """VERDICT r12 #4: two disjoint homology islands on the SAME
    diagonal, separated by junk wider than X-drop can cross, yield
    one HSP each (blastn extends every seed; the old one-anchor-per-
    diagonal collapse reported only the first island)."""
    subj = _seq(11, 400)
    # query: 40 nt of subject, 40 nt junk, then the 40 nt of subject
    # that follow the junk REGION on the same diagonal: q[0:40] ~
    # s[60:100], q[80:120] ~ s[140:180] -> both on diag 60.
    query = subj[60:100] + _seq(77, 40) + subj[140:180]
    q, s = _frames(spark, [("q1", query)], [("s1", subj)])
    hits = sorted(
        builtin_blast_hits(q, s).collect(), key=lambda h: h.q_start
    )
    assert len(hits) == 2
    a, b = hits
    assert (a.q_start, a.s_start) == (1, 61)
    assert (b.q_start, b.s_start) == (81, 141)
    assert a.n_matches >= 40 and b.n_matches >= 40


def test_spurious_early_seed_does_not_mask_island(spark):
    """ADVICE r12: a spurious exact 11-mer EARLY on the diagonal
    (followed by > xdrop junk) must not suppress the genuine homology
    island later on the same diagonal — each island extends
    independently."""
    subj = _seq(12, 400)
    # genuine island: q[60:110] ~ s[160:210] (diag 100).  Plant a
    # spurious seed on the SAME diagonal: q[10:21] = s[110:121].
    query = list(_seq(88, 60) + subj[160:210])
    query[10:21] = subj[110:121]
    q, s = _frames(spark, [("q1", "".join(query))], [("s1", subj)])
    hits = builtin_blast_hits(q, s).collect()
    genuine = [h for h in hits if h.q_start >= 55]
    assert len(genuine) == 1
    h = genuine[0]
    assert h.s_start == 161 and h.n_matches >= 50


def test_gapped_two_locus_far_diagonals(spark):
    """VERDICT r12 #4 (gapped): a query homologous to TWO loci of one
    subject on diagonals further apart than the band yields two
    gapped hits (the old single-best-diagonal collapse kept one)."""
    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        builtin_blast_hits_gapped,
    )

    subj = _seq(13, 500)
    # the query IS s[100:140]; it also appears verbatim at s[300:340]
    locus = subj[100:140]
    subj2 = subj[:300] + locus + subj[340:]
    q, s = _frames(spark, [("q1", locus)], [("s1", subj2)])
    hits = sorted(
        builtin_blast_hits_gapped(q, s).collect(), key=lambda h: h.s_start
    )
    assert len(hits) == 2
    assert [h.s_start for h in hits] == [101, 301]
    assert all(h.n_matches == 40 and h.gaps == 0 for h in hits)


def test_scored_and_gapped_registered_queries_match_oracle(spark):
    """The two r13 driver registrations (VERDICT r12 #2) equal their
    DuckDB oracles row-for-row: partial-identity X-drop scoring
    (planted point mutations, structural Hamming-scan oracle) and the
    banded-SW gapped path (planted deep-interior deletions,
    closed-form oracle)."""
    import duckdb

    from pangenomesasgraphdatabases_spark.queries.registry import all_queries

    qs = all_queries()
    for name in ("blast_builtin_scored_hits", "blast_builtin_gapped_hits"):
        qq = qs[name]
        got = sorted(
            tuple(r) for r in qq.fn(spark, "/root/testdata/sf0.001").collect()
        )
        want = sorted(tuple(r) for r in duckdb.sql(qq.oracle).fetchall())
        assert got == want and len(got) == 24, name


def test_banded_sw_batch_matches_scalar():
    """Property: the vectorized batch DP (_banded_sw_batch) is
    bit-identical to the scalar _banded_sw — same scores, same
    bookkeeping, same tie-breaks — across random sequence pairs,
    diagonals (incl. out-of-band and negative), bands and gaps."""
    import random

    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        _banded_sw,
        _banded_sw_batch,
    )

    rng = random.Random(99)
    for band, gap in ((8, -3), (3, -2), (1, -5)):
        tasks = []
        for _ in range(120):
            nq = rng.randint(1, 60)
            ns = rng.randint(1, 80)
            qs = "".join(rng.choice("ACGT") for _ in range(nq))
            if rng.random() < 0.5:
                # embed a (mutated/indeled) copy so real alignments occur
                off = rng.randint(0, max(ns - nq, 0))
                ss = (
                    "".join(rng.choice("ACGT") for _ in range(off))
                    + qs[: rng.randint(0, nq)]
                    + "".join(
                        rng.choice("ACGT")
                        for _ in range(max(ns - off - nq, 0))
                    )
                )[:ns] or "A"
            else:
                ss = "".join(rng.choice("ACGT") for _ in range(ns))
            diag = rng.randint(-5, ns)
            tasks.append((qs, ss, diag))
        got = _banded_sw_batch(tasks, band, gap)
        for task, g in zip(tasks, got):
            want = _banded_sw(*task, band=band, gap=gap)
            assert g == want, (task, band, gap, g, want)


def test_xdrop_batch_matches_scalar():
    """Property: the vectorized batch X-drop (_xdrop_extend_batch) is
    bit-identical to the scalar _xdrop_extend — same best-interval
    tie-breaks, same drop termination — across random sequences,
    anchors and diagonals."""
    import random

    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        _xdrop_extend,
        _xdrop_extend_batch,
    )

    rng = random.Random(77)
    for xdrop in (20, 5, 1):
        tasks = []
        for _ in range(200):
            nq = rng.randint(1, 80)
            ns = rng.randint(1, 120)
            qs = "".join(rng.choice("ACGT") for _ in range(nq))
            if rng.random() < 0.5:
                off = rng.randint(0, max(ns - nq, 0))
                ss = (
                    "".join(rng.choice("ACGT") for _ in range(off))
                    + qs[: rng.randint(0, nq)]
                    + "".join(
                        rng.choice("ACGT")
                        for _ in range(max(ns - off - nq, 0))
                    )
                )[:ns] or "A"
            else:
                ss = "".join(rng.choice("ACGT") for _ in range(ns))
            # anchors come from real seeds, so i0 + diag is always a
            # valid subject index (both implementations assume it);
            # bound by the ACTUAL lengths after construction
            nq, ns = len(qs), len(ss)
            diag = rng.randint(-nq + 1, ns - 1)
            lo = max(0, -diag)
            hi = min(nq - 1, ns - 1 - diag)
            if lo > hi:
                continue
            i0 = rng.randint(lo, hi)
            tasks.append((qs, ss, diag, i0))
        got = _xdrop_extend_batch(tasks, xdrop)
        for task, g in zip(tasks, got):
            want = _xdrop_extend(task[0], task[1], task[2], task[3], xdrop)
            assert g == want, (task, xdrop, g, want)


def test_builtin_enrich_registered_query_matches_oracle(spark):
    """blast_builtin_enrich (r13 post-freeze): the S11 -> S14
    end-to-end pipe — builtin hits through with_bitscore, the blast
    table adapter, and enrich_clusters_with_blast — equals its
    closed-form DuckDB oracle row-for-row, with every cluster present
    (hit or not) and the bit score pinned as an integer x100."""
    import duckdb

    from pangenomesasgraphdatabases_spark.queries.registry import all_queries

    qq = all_queries()["blast_builtin_enrich"]
    got = sorted(
        tuple(r) for r in qq.fn(spark, "/root/testdata/sf0.001").collect()
    )
    want = sorted(tuple(r) for r in duckdb.sql(qq.oracle).fetchall())
    assert got == want and len(got) == 24
    assert all(r[1] for r in got)  # every planted cluster has its hit


def test_blast_table_adapter_dedups_per_subject(spark):
    """ADVICE r13: the reference's readBlast iterates
    blast_record.descriptions — ONE row per subject carrying the best
    score (extendingDB_performingBlast.py:82-105) — so a query
    hitting one subject at TWO loci (two HSPs) must collapse to one
    (cluster, title) row with the best HSP's score and e-value, not
    fan duplicate titles into blastTitlesVirus."""
    from pangenomesasgraphdatabases_spark.graph.enrich import (
        enrich_clusters_with_blast,
    )

    # subject carries the query verbatim at 41 AND a one-mismatch
    # copy at 201 -> two HSPs against the same subject
    core = _seq(8, 60)
    mut = ("C" if core[30] != "C" else "G")
    weak = core[:30] + mut + core[31:]
    subj = _seq(9, 40) + core + _seq(10, 100) + weak + _seq(11, 40)
    q, s = _frames(spark, [("c1", core)], [("virus1", subj)])
    hits = with_bitscore(builtin_blast_hits(q, s), m=60, n=len(subj))
    assert hits.count() == 2  # really multi-HSP
    table = builtin_hits_as_blast_table(hits).collect()
    assert len(table) == 1
    row = table[0]
    assert (row.cluster_id, row.title) == ("c1", "virus1")
    # best HSP kept: the verbatim copy's score/e-value (60 > 60 - 3)
    import pyspark.sql.functions as SF

    full = (
        with_bitscore(builtin_blast_hits(q, s), m=60, n=len(subj))
        .agg(SF.max(SF.round("bit_score", 2)).alias("b"),
             SF.min("evalue").alias("e"))
        .collect()[0]
    )
    assert row.score == full.b and row.evalue == full.e
    clusters = spark.createDataFrame([("c1",)], ["cluster_id"])
    out = enrich_clusters_with_blast(
        clusters,
        builtin_hits_as_blast_table(
            with_bitscore(builtin_blast_hits(q, s), m=60, n=len(subj))
        ),
    ).collect()[0]
    assert out.blastTitlesVirus == ["virus1"]  # no duplicate title


def test_gapped_bitscore_parameters(spark):
    """with_bitscore(gapped=True) attaches the published GAPPED
    Karlin-Altschul bracket (KA_GAPPED_* — blast_stat.c's (1,-2)
    open-1/extend-2 row, the conservative side of the linear -3
    regime): bit = (0.85*S - ln 0.23)/ln 2, e-value = m*n*2^-bit, so
    gapped and ungapped hits threshold on one scale."""
    from pangenomesasgraphdatabases_spark.operators.seed_align import (
        KA_GAPPED_K,
        KA_GAPPED_LAMBDA,
        builtin_blast_hits_gapped,
    )

    subj = _seq(12, 300)
    query = subj[100:130] + subj[131:160]  # one deletion
    q, s = _frames(spark, [("q1", query)], [("s1", subj)])
    hits = with_bitscore(
        builtin_blast_hits_gapped(q, s, min_score=20),
        m=len(query),
        n=300,
        gapped=True,
    ).collect()
    assert hits
    h = max(hits, key=lambda r: r.score)
    want_bit = (KA_GAPPED_LAMBDA * h.score - math.log(KA_GAPPED_K)) / math.log(2.0)
    assert abs(h.bit_score - want_bit) < 1e-9
    assert abs(h.evalue - len(query) * 300 * 2.0 ** (-want_bit)) < 1e-15
    # the gapped bracket is CONSERVATIVE: for the same raw score the
    # gapped bit score is strictly below the ungapped one
    ungapped = with_bitscore(
        builtin_blast_hits_gapped(q, s, min_score=20), m=len(query), n=300
    ).collect()
    by_key = {(r.q_start, r.s_start): r for r in ungapped}
    assert h.bit_score < by_key[(h.q_start, h.s_start)].bit_score


def test_builtin_gapped_enrich_registered_query_matches_oracle(spark):
    """blast_builtin_gapped_enrich (VERDICT r13 #4): the gapped path's
    Karlin-Altschul statistics end-to-end — banded-SW hits through
    with_bitscore(gapped=True), the per-subject adapter and the
    enrich writeback — equal the closed-form DuckDB oracle, with the
    GAPPED bracket's bit score and e-value pinned as integers."""
    import duckdb

    from pangenomesasgraphdatabases_spark.queries.registry import all_queries

    qq = all_queries()["blast_builtin_gapped_enrich"]
    got = sorted(
        tuple(r) for r in qq.fn(spark, "/root/testdata/sf0.001").collect()
    )
    want = sorted(tuple(r) for r in duckdb.sql(qq.oracle).fetchall())
    assert got == want and len(got) == 24
    # the planted single-deletion HSP: score 20 under the gapped
    # bracket -> bit 26.65 (x100 = 2665)
    assert all(r[4] == 2665 for r in got)
