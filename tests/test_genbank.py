"""S8 GenBank source: minimal flat-file parser feeding the GFF-parity
pipeline (reference entry point bp_genbank2gff3.pl, readme.md:29-35)."""

from __future__ import annotations

import textwrap
from pathlib import Path

FIXTURES = Path(__file__).resolve().parent.parent / "fixtures_data"
GBK = str(FIXTURES / "genbank")


def test_genbank_features_fixture(spark):
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        read_genbank_features,
    )

    rows = {
        (r.file, r.seqid, r.feature_type, r.start, r.end, r.strand, r.feature_id)
        for r in read_genbank_features(spark, f"{GBK}/*.gbk").collect()
    }
    assert ("strainA", "seqA1", "CDS", 1, 30, "+", "A_0001") in rows
    # complement() -> '-' strand
    assert ("strainA", "seqA1", "tRNA", 40, 75, "-", "A_0002") in rows
    # gene + /pseudo -> pseudogene (the reference GFF3 carries these
    # as pseudogene rows, readme.md:40)
    assert ("strainA", "seqA1", "pseudogene", 80, 110, "+", "A_0003") in rows
    # join(a..b,c..d) -> envelope
    assert ("strainA", "seqA2", "CDS", 5, 82, "+", "A_0004") in rows
    # complement(join(..)) on the second file
    assert ("strainB", "seqB1", "CDS", 10, 90, "-", "B_0001") in rows
    # partial marker stripped from coords, flagged
    partial = {
        r.feature_id: r.partial
        for r in read_genbank_features(spark, f"{GBK}/*.gbk").collect()
    }
    assert partial["A_0005"] is True and partial["A_0001"] is False


def test_genbank_sequences_fixture(spark):
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        read_genbank_sequences,
    )

    seqs = {
        (r.file, r.seqid): r.seq
        for r in read_genbank_sequences(spark, f"{GBK}/*.gbk").collect()
    }
    # Lengths match the LOCUS bp declarations; digits/spaces stripped.
    assert len(seqs[("strainA", "seqA1")]) == 120
    assert len(seqs[("strainA", "seqA2")]) == 90
    assert len(seqs[("strainB", "seqB1")]) == 140
    assert all(set(s) <= set("ACGT") for s in seqs.values())


def test_genbank_to_gff_parity_columns(spark):
    from pangenomesasgraphdatabases_spark.sources.genbank import genbank_to_gff
    from pangenomesasgraphdatabases_spark.sources.gff import GFF_COLS

    df = genbank_to_gff(spark, f"{GBK}/*.gbk")
    assert df.columns == GFF_COLS
    rows = {r.feature_id: r for r in df.collect()}
    assert "source" not in {r.feature_type for r in rows.values()}
    # a bacterial gene+CDS pair shares one locus_tag: the gene keeps
    # the bare ID, the CDS takes BioPerl's add_generic_id method:name
    # form so IDs stay unique (bp_genbank2gff3.pl:955-975)
    assert rows["A_0001"].feature_type == "gene"
    assert rows["A_0001"].attributes == "ID=A_0001"
    # r14: remaining qualifiers pass through as GFF3 attributes the
    # way bp_genbank2gff3.pl carries them (strainA's CDS has
    # /codon_start=1 beyond the dedicated locus_tag/product slots)
    assert rows["CDS:A_0001"].attributes == (
        "ID=CDS:A_0001;locus_tag=A_0001;product=thr operon leader peptide"
        ";codon_start=1"
    )
    assert rows["CDS:A_0001"].score == "." and rows["CDS:A_0001"].phase == "."


def test_genbank_continuation_lines(spark, tmp_path):
    """Multi-line locations and multi-line qualifier values (routine in
    real GenBank: translation strings wrap at col 80) — beyond what the
    committed oracle fixture exercises."""
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        read_genbank_features,
    )

    gbk = textwrap.dedent(
        """\
        LOCUS       seqX             200 bp    DNA     linear   BCT 01-JAN-2024
        FEATURES             Location/Qualifiers
             CDS             join(10..60,
                             80..160)
                             /locus_tag="X_0001"
                             /product="multidomain protein with a very
                             long wrapped name"
                             /translation="MKTAYIAKQRQISFVKSHFSRQLEERLGLIEVQ
                             APILSRVGDGTQDNLSGAEKAVQ"
        ORIGIN
                1 acgtacgtac
        //
        """
    )
    (tmp_path / "x.gbk").write_text(gbk)
    rows = read_genbank_features(spark, str(tmp_path / "x.gbk")).collect()
    by_id = {r.feature_id: r for r in rows}
    r = by_id["X_0001"]
    assert (r.start, r.end, r.strand) == (10, 160, "+")
    # Wrapped qualifier joined with a space (non-translation).
    assert r.product == "multidomain protein with a very long wrapped name"


def test_genbank_scan_oracle_local(spark):
    """The registered etl_genbank_scan matches its own DuckDB oracle
    on the committed fixtures (row multiset)."""
    import duckdb

    from pangenomesasgraphdatabases_spark.queries.registry import all_queries

    q = all_queries()["etl_genbank_scan"]
    got = sorted(tuple(r) for r in q.fn(spark, "/root/testdata/sf0.001").collect())
    want = sorted(tuple(r) for r in duckdb.sql(q.oracle).fetchall())
    assert got == want


def test_clean_genbank_matches_clean_gff(spark, tmp_path):
    """End-to-end .gbk cleanup equals the S9 GFF cleanup on equivalent
    hand-built GFF files (same features, same scaffolds) — the two
    entry formats converge to identical cleaned feature tables."""
    from collections import defaultdict

    from pangenomesasgraphdatabases_spark.sources.genbank import (
        clean_genbank,
        read_genbank_features,
        read_genbank_sequences,
    )
    from pangenomesasgraphdatabases_spark.sources.gff import clean_gff

    feats = [
        r
        for r in read_genbank_features(spark, f"{GBK}/*.gbk").collect()
        if r.feature_type != "source"
    ]
    seqs = read_genbank_sequences(spark, f"{GBK}/*.gbk").collect()
    by_file = defaultdict(list)
    for r in feats:
        by_file[r.file].append(
            f"{r.seqid}\tgenbank\t{r.feature_type}\t{r.start}\t{r.end}"
            f"\t.\t{r.strand}\t.\tID={r.feature_id}"
        )
    fasta = defaultdict(list)
    for s in seqs:
        fasta[s.file].append(f">{s.seqid}\n{s.seq}")
    for file, lines in by_file.items():
        (tmp_path / f"{file}.gff").write_text(
            "\n".join(lines) + "\n##FASTA\n" + "\n".join(fasta[file]) + "\n"
        )

    got = sorted(tuple(r) for r in clean_genbank(spark, f"{GBK}/*.gbk").collect())
    want = sorted(tuple(r) for r in clean_gff(spark, str(tmp_path / "*.gff")).collect())
    assert got == want and len(got) > 0


def test_genbank_parser_property_roundtrip(spark, tmp_path):
    """Property: render random feature tables as GenBank text, parse,
    recover every field exactly (coords, strand, envelope of join
    locations, locus_tag, product, pseudo mapping)."""
    import random

    rng = random.Random(42)
    base = "acgt"
    records, want = [], set()
    for rec_i in range(6):
        seqid = f"ctg{rec_i}"
        length = rng.randint(60, 300)
        feats = []
        for f_i in range(rng.randint(1, 8)):
            tag = f"L{rec_i}_{f_i:04d}"
            a = rng.randint(1, length - 10)
            b = rng.randint(a + 1, length)
            kind = rng.choice(["CDS", "tRNA", "gene_pseudo", "rRNA"])
            if rng.random() < 0.4:
                mid1 = rng.randint(a, b - 1)
                mid2 = rng.randint(mid1 + 1, b)
                loc = f"join({a}..{mid1},{mid2}..{b})"
            else:
                loc = f"{a}..{b}"
            strand = "+"
            if rng.random() < 0.5:
                loc = f"complement({loc})"
                strand = "-"
            product = rng.choice(
                ["hypothetical protein", "ABC transporter", "tRNA-Gly", ""]
            )
            key = "gene" if kind == "gene_pseudo" else kind
            lines = [f"     {key:<16}{loc}", f'                     /locus_tag="{tag}"']
            if product:
                lines.append(f'                     /product="{product}"')
            if kind == "gene_pseudo":
                lines.append("                     /pseudo")
            feats.append("\n".join(lines))
            ftype = "pseudogene" if kind == "gene_pseudo" else kind
            want.add((seqid, ftype, a, b, strand, tag, product))
        seq = "".join(rng.choice(base) for _ in range(length))
        origin = ["ORIGIN"]
        for i in range(0, length, 60):
            chunk = seq[i : i + 60]
            groups = " ".join(chunk[j : j + 10] for j in range(0, len(chunk), 10))
            origin.append(f"{i + 1:>9} {groups}")
        records.append(
            f"LOCUS       {seqid}             {length} bp    DNA     linear\n"
            "FEATURES             Location/Qualifiers\n"
            + "\n".join(feats)
            + "\n"
            + "\n".join(origin)
            + "\n//"
        )

    (tmp_path / "rand.gbk").write_text("\n".join(records) + "\n")
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        read_genbank_features,
        read_genbank_sequences,
    )

    got = {
        (r.seqid, r.feature_type, r.start, r.end, r.strand, r.feature_id, r.product)
        for r in read_genbank_features(spark, str(tmp_path / "rand.gbk")).collect()
    }
    assert got == want
    lens = {
        (r.seqid, len(r.seq))
        for r in read_genbank_sequences(spark, str(tmp_path / "rand.gbk")).collect()
    }
    assert lens == {(f"ctg{i}", l) for i, l in
                    [(r, len([c for c in records[r].split("ORIGIN")[1] if c in "acgt"]))
                     for r in range(6)]}


# --- r10 hardening: multi-record / fuzzy locations / continuation ---


def _render_record(seqid, length, feats, seq=None):
    """Render one GenBank record from a truth list of feature dicts:
    {key, loc, quals: [(name, rendered_lines)], ...}."""
    body = []
    for f in feats:
        body.append(f"     {f['key']:<16}{f['loc']}")
        body.extend(f.get("extra_lines", []))
    origin = []
    if seq:
        origin.append("ORIGIN")
        for i in range(0, len(seq), 60):
            chunk = seq[i : i + 60]
            groups = " ".join(
                chunk[j : j + 10] for j in range(0, len(chunk), 10)
            )
            origin.append(f"{i + 1:>9} {groups}")
    return (
        f"LOCUS       {seqid}             {length} bp    DNA     linear\n"
        "FEATURES             Location/Qualifiers\n"
        + "\n".join(body)
        + ("\n" + "\n".join(origin) if origin else "")
        + "\n//"
    )


def test_genbank_fuzzy_and_remote_locations():
    """Fuzzy location forms resolve to their numeric envelope; remote
    segments are excluded whole (their coordinates index another
    sequence); remote-only locations drop the feature."""
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        _parse_location,
    )

    assert _parse_location("(122.133)..204") == (
        122, 204, "+", False, [(122, 204)],
    )
    assert _parse_location("102^103") == (102, 103, "+", False, [(102, 103)])
    # the comma inside one-of() is NOT a sub-location split
    assert _parse_location("one-of(1888,1901)..2200") == (
        1888, 2200, "+", False, [(1888, 2200)],
    )
    assert _parse_location("complement((3.9)..50)") == (
        3, 50, "-", False, [(3, 50)],
    )
    assert _parse_location("<(5.8)..>99") == (5, 99, "+", True, [(5, 99)])
    # remote segment dropped from the envelope AND the segment list
    assert _parse_location("join(J00194.1:100..202,1..245)") == (
        1, 245, "+", False, [(1, 245)],
    )
    assert _parse_location("join(1..50,AB012345.2:800..900,60..70)") == (
        1, 70, "+", False, [(1, 50), (60, 70)],
    )
    # remote-only -> unparseable locally
    assert _parse_location("J00194.1:100..202") is None
    # multi-interval split locations keep file-order segments
    assert _parse_location("join(10..47,85..120)") == (
        10, 120, "+", False, [(10, 47), (85, 120)],
    )
    assert _parse_location("complement(join(130..150,160..190))") == (
        130, 190, "-", False, [(130, 150), (160, 190)],
    )
    # the older join-of-complements form: the inner complement( must
    # NOT peel as a wrapper (its parens are unbalanced relative to
    # the whole body) — segments stay per-sub-location (review r14)
    assert _parse_location(
        "join(complement(300..400),complement(100..200))"
    ) == (100, 400, "-", False, [(300, 400), (100, 200)])


def test_genbank_quoted_continuation_and_escaped_quotes(spark, tmp_path):
    """A quoted qualifier value continuing on a line that STARTS with
    '/' must not open a new qualifier, and '\"\"' unescapes to a
    literal quote without eating value-edge quotes."""
    rec = _render_record(
        "ctgQ",
        100,
        [
            {
                "key": "CDS",
                "loc": "1..30",
                "extra_lines": [
                    '                     /locus_tag="Q_0001"',
                    '                     /product="subunit alpha',
                    "                     /beta fusion of the",
                    '                     ""special"" complex"',
                ],
            },
            {
                "key": "CDS",
                "loc": "40..90",
                "extra_lines": [
                    '                     /locus_tag="Q_0002"',
                    '                     /product="plain"',
                ],
            },
        ],
    )
    (tmp_path / "q.gbk").write_text(rec + "\n")
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        read_genbank_features,
    )

    rows = {
        r.feature_id: r.product
        for r in read_genbank_features(spark, str(tmp_path / "q.gbk")).collect()
    }
    assert rows["Q_0001"] == (
        'subunit alpha /beta fusion of the "special" complex'
    )
    assert rows["Q_0002"] == "plain"


def test_genbank_multi_record_file(spark, tmp_path):
    """Several //-separated records in ONE file: every record's LOCUS
    id scopes its own features and ORIGIN sequence."""
    recs = [
        _render_record(
            f"multi{i}",
            60,
            [
                {
                    "key": "CDS",
                    "loc": f"{1 + i}..{30 + i}",
                    "extra_lines": [
                        f'                     /locus_tag="M_{i:04d}"'
                    ],
                }
            ],
            seq="acgt" * 15,
        )
        for i in range(4)
    ]
    (tmp_path / "multi.gbk").write_text("\n".join(recs) + "\n")
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        read_genbank_features,
        read_genbank_sequences,
    )

    feats = read_genbank_features(spark, str(tmp_path / "multi.gbk")).collect()
    assert {(r.seqid, r.feature_id, r.start) for r in feats} == {
        (f"multi{i}", f"M_{i:04d}", 1 + i) for i in range(4)
    }
    seqs = read_genbank_sequences(spark, str(tmp_path / "multi.gbk")).collect()
    assert {(r.seqid, len(r.seq)) for r in seqs} == {
        (f"multi{i}", 60) for i in range(4)
    }


def _gb_truth_strategy():
    """Hypothesis strategy: a list of records, each a list of feature
    truths covering plain/join/fuzzy/partial locations and multi-line
    quoted products (with '/' line starts and '\"\"' escapes)."""
    from hypothesis import strategies as st

    word = st.text("abcdefgzXYZ0189", min_size=1, max_size=8)

    def feature(idx):
        return st.tuples(
            st.sampled_from(["CDS", "tRNA", "rRNA", "gene_pseudo"]),
            st.integers(1, 200),
            st.integers(1, 200),
            st.sampled_from(["plain", "join", "fuzzy_range", "caret",
                             "one_of"]),
            st.booleans(),  # complement
            st.booleans(),  # partial markers
            st.lists(word, min_size=0, max_size=6),  # product words
        )

    rec = st.lists(feature(0), min_size=1, max_size=5)
    return st.lists(rec, min_size=1, max_size=3)


def test_genbank_hypothesis_roundtrip():
    """Hypothesis property (VERDICT r9 #5): random multi-record truth
    -> rendered .gbk text -> pure-python parse recovers exactly the
    envelope/strand/partial/product/type of every feature."""
    from hypothesis import HealthCheck, given, settings

    from pangenomesasgraphdatabases_spark.sources.genbank import (
        _iter_record_features,
        _split_records,
    )

    @settings(
        max_examples=60,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(_gb_truth_strategy())
    def run(truth):
        texts, want = [], []
        for rec_i, feats in enumerate(truth):
            seqid = f"hctg{rec_i}"
            rendered = []
            for f_i, (kind, x, y, shape, comp, part, pwords) in enumerate(
                feats
            ):
                a, b = min(x, y), max(x, y) if x != y else (max(x, y) + 1)
                if isinstance(b, tuple):  # never happens; guard
                    b = b[0]
                tag = f"H{rec_i}_{f_i:03d}"
                if shape == "join" and b - a >= 3:
                    m1 = a + (b - a) // 3
                    m2 = m1 + 1
                    loc = f"join({a}..{m1},{m2}..{b})"
                elif shape == "fuzzy_range" and b - a >= 3:
                    loc = f"({a}.{a + 1})..{b}"
                elif shape == "caret":
                    b = a + 1
                    loc = f"{a}^{b}"
                elif shape == "one_of" and b - a >= 3:
                    loc = f"one-of({a},{a + 1})..{b}"
                else:
                    loc = f"{a}..{b}"
                if part:
                    loc = f"<{loc.replace(f'..{b}', f'..>{b}', 1)}" \
                        if ".." in loc else f"<{loc}"
                if comp:
                    loc = f"complement({loc})"
                product = " ".join(pwords)
                key = "gene" if kind == "gene_pseudo" else kind
                lines = [
                    f"     {key:<16}{loc}",
                    f'                     /locus_tag="{tag}"',
                ]
                if product:
                    # wrap the quoted product over lines of <=12 chars
                    # so continuations (incl. '/'-leading ones when the
                    # words allow) are exercised
                    chunks = [product[i:i + 12]
                              for i in range(0, len(product), 12)]
                    # GenBank wraps on spaces; emulate by splitting on
                    # words instead when a chunk boundary lands mid-word
                    chunks = product.split(" ")
                    lines.append(
                        '                     /product="' + chunks[0]
                    )
                    for c in chunks[1:]:
                        lines.append("                     " + c)
                    lines[-1] = lines[-1] + '"'
                if kind == "gene_pseudo":
                    lines.append("                     /pseudo")
                rendered.append({"key": key, "loc": loc,
                                 "extra_lines": lines[1:]})
                ftype = "pseudogene" if kind == "gene_pseudo" else kind
                want.append(
                    (seqid, ftype, a, b, "-" if comp else "+", tag,
                     product, part)
                )
            texts.append(_render_record(seqid, 300, rendered))
        got = []
        for rec in _split_records("\n".join(texts)):
            for feat in _iter_record_features(rec):
                got.append(
                    (feat["seqid"], feat["feature_type"], feat["start"],
                     feat["end"], feat["strand"], feat["feature_id"],
                     feat["product"], feat["partial"])
                )
        assert sorted(got) == sorted(want)

    run()


def test_genbank_gene_model_fixture(spark):
    """The committed strainC fixture: gene->mRNA->CDS association per
    bp_genbank2gff3.pl gene_features (VERDICT r10 #4) — two gene
    models on one record (second with two mRNA isoforms, CDS bound to
    the CURRENT mRNA), a tRNA under a gene on the next record, and an
    orphan CDS (different locus_tag -> GM_NOT_PART, top-level)."""
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        read_genbank_features,
    )

    rows = {
        (r.seqid, r.feature_type, r.feature_id): (r.gb_id, r.gb_parent)
        for r in read_genbank_features(
            spark, f"{GBK}/strainC.gbk"
        ).collect()
    }
    assert rows[("seqC1", "gene", "C_0001")] == ("C_0001", "")
    assert rows[("seqC1", "mRNA", "C_0001")] == ("C_0001.t01", "C_0001")
    assert rows[("seqC1", "CDS", "C_0001")] == ("C_0001.p01", "C_0001.t01")
    assert rows[("seqC1", "CDS", "C_0002")] == ("C_0002.p02", "C_0002.t02")
    # exon parents to the CURRENT mRNA (the second isoform)
    assert rows[("seqC1", "exon", "C_0002")] == ("", "C_0002.t02")
    # mRNA linked through its /gene qualifier (no locus_tag)
    assert rows[("seqC2", "mRNA", "")] == ("C_0101.t01", "C_0101")
    assert rows[("seqC2", "tRNA", "C_0101")] == ("C_0101.r01", "C_0101")
    assert rows[("seqC2", "CDS", "C_0102")] == ("C_0102", "")


def test_genbank_gene_model_hypothesis():
    """Hypothesis property: random gene-model layouts (genes with
    shuffled mRNA/CDS/tRNA/orphan children) -> rendered .gbk ->
    parse recovers the exact BioPerl-parity id/parent assignment,
    with expectations computed BY CONSTRUCTION while generating."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pangenomesasgraphdatabases_spark.sources.genbank import (
        _iter_record_features,
        _split_records,
    )

    child = st.sampled_from(
        ["mRNA", "CDS", "tRNA", "orphan_cds", "misc", "exon"]
    )
    model = st.lists(child, min_size=0, max_size=6)
    rec = st.lists(model, min_size=1, max_size=4)

    @settings(
        max_examples=60,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(rec)
    def run(models):
        rendered, want = [], []
        pos = 1
        for g_i, children in enumerate(models):
            gtag = f"G_{g_i:03d}"
            rendered.append({"key": "gene", "loc": f"{pos}..{pos + 9}",
                             "extra_lines": [
                                 f'                     /locus_tag="{gtag}"']})
            want.append(("gene", gtag, gtag, ""))
            tnum = rnum = 0
            rna_id = ncrna_id = ""
            for c_i, kind in enumerate(children):
                loc = f"{pos + c_i}..{pos + c_i + 5}"
                if kind == "mRNA":
                    tnum += 1
                    rna_id = f"{gtag}.t0{tnum}"
                    tag, gbid, par = gtag, rna_id, gtag
                    key = "mRNA"
                elif kind == "CDS":
                    key, tag = "CDS", gtag
                    if rna_id:
                        gbid, par = rna_id.replace(".t", ".p", 1), rna_id
                    else:
                        gbid, par = gtag, ""
                elif kind == "tRNA":
                    rnum += 1
                    ncrna_id = f"{gtag}.r0{rnum}"
                    key, tag = "tRNA", gtag
                    gbid, par = ncrna_id, gtag
                elif kind == "exon":
                    key, tag = "exon", gtag
                    if rna_id or ncrna_id:
                        gbid, par = "", rna_id or ncrna_id
                    else:
                        gbid, par = gtag, ""
                elif kind == "orphan_cds":
                    key, tag = "CDS", f"X_{g_i:03d}_{c_i}"
                    gbid, par = tag, ""
                else:
                    key, tag = "misc_feature", gtag
                    gbid, par = gtag, gtag
                rendered.append({"key": key, "loc": loc, "extra_lines": [
                    f'                     /locus_tag="{tag}"']})
                want.append((key, tag, gbid, par))
            pos += 20
        text = _render_record("gm0", 500, rendered)
        got = [
            (f["feature_type"], f["feature_id"], f["gb_id"], f["gb_parent"])
            for rec_s in _split_records(text)
            for f in _iter_record_features(rec_s)
            if f["feature_type"] != "source"
        ]
        assert got == want

    run()


def test_so_type_mapping(spark):
    """FT->SO mapping subset (bp_genbank2gff3.pl map_types in its
    no-obo configuration): mapped keys rewrite, identity keys pass
    through, and the helper is a pure projection (no Exchange)."""
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        read_genbank_features,
        with_so_type,
    )

    df = with_so_type(
        read_genbank_features(
            spark, f"{GBK}/strainA.gbk"
        )
    )
    got = {(r.feature_type, r.so_type) for r in df.collect()}
    assert ("source", "region") in got
    assert ("CDS", "CDS") in got          # identity passthrough
    assert ("tRNA", "tRNA") in got
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    toy = spark.createDataFrame(
        [("misc_RNA",), ("3'UTR",), ("novel_key",)], "feature_type string"
    )
    out = {r.feature_type: r.so_type for r in with_so_type(toy).collect()}
    assert out == {
        "misc_RNA": "processed_transcript",
        "3'UTR": "three_prime_UTR",
        "novel_key": "novel_key",
    }


def test_so_types_fixture_exercises_map(spark):
    """The type-mapping fixture tree must exercise the FT->SO subset
    broadly (>= 18 mapped keys), keep identity passthrough for
    unmapped keys, and apply the pseudo-gene rewrite BEFORE mapping."""
    from pangenomesasgraphdatabases_spark.queries.sources_q import (
        etl_genbank_so_types,
    )
    from pangenomesasgraphdatabases_spark.sources.genbank import FT_SO_SUBSET

    rows = {
        (r.feature_type, r.so_type): r.n
        for r in etl_genbank_so_types(spark, "/root/testdata/sf0.001").collect()
    }
    mapped = {ft for (ft, so) in rows if ft in FT_SO_SUBSET}
    assert len(mapped) >= 18, f"only {len(mapped)} mapped keys exercised"
    for ft, so in rows:
        if ft in FT_SO_SUBSET:
            assert so == FT_SO_SUBSET[ft]
        else:
            assert so == ft  # identity passthrough
    assert ("pseudogene", "pseudogene") in rows  # rewrite-then-map
    assert ("misc_RNA", "processed_transcript") in rows
    assert rows[("source", "region")] == 2


def test_gff_ids_unique_and_leaf_exons_parent_only(spark):
    """GFF3 forbids one ID on two FEATURES — but one discontinuous
    feature legitimately spans several rows sharing its ID (the
    multi-segment join() convention, VERDICT r13 #8).  Across the
    committed fixture tree a repeated ID must always be such a
    segment group (identical type + attributes, distinct
    coordinates), never two distinct features; and linked exons
    (gb_id deliberately empty) emit Parent= with NO ID= instead of
    duplicating their gene's locus_tag."""
    from collections import Counter, defaultdict

    from pangenomesasgraphdatabases_spark.sources.genbank import (
        genbank_to_gff,
    )

    rows = genbank_to_gff(spark, f"{GBK}/*.gbk").collect()
    ids = [r.feature_id for r in rows if r.feature_id]
    groups = defaultdict(list)
    for r in rows:
        if r.feature_id:
            groups[r.feature_id].append(r)
    for gid, rs in groups.items():
        if len(rs) == 1:
            continue
        # a repeated ID is one discontinuous feature: same file,
        # type and attributes, all segment rows distinct
        assert len({(r.file, r.seqid, r.feature_type, r.attributes)
                    for r in rs}) == 1, f"ID {gid} spans two features"
        assert len({(r.start, r.end) for r in rs}) == len(rs), gid
    # the fixture tree plants exactly these segment groups: strainC's
    # two-exon mRNA and strainE's intron tRNA + complement ncRNA
    dupes = sorted(i for i, c in Counter(ids).items() if c > 1)
    assert dupes == ["C_0001.t01", "E_0001.r01", "E_0002"]
    e_trna = sorted((r.start, r.end) for r in groups["E_0001.r01"])
    assert e_trna == [(10, 47), (85, 120)]
    e_nc = sorted((r.start, r.end) for r in groups["E_0002"])
    assert e_nc == [(130, 150), (160, 190)]
    assert all(r.strand == "-" for r in groups["E_0002"])
    exons = [r for r in rows if r.feature_type == "exon"]
    assert exons
    linked = [r for r in exons if "Parent=" in r.attributes]
    orphan = [r for r in exons if "Parent=" not in r.attributes]
    assert linked
    for r in linked:
        assert r.feature_id == ""
        assert r.attributes.startswith("Parent=")
        assert "ID=" not in r.attributes
    # strainD's post-gene orphan exon (no RNA owns it, no locus_tag):
    # top-level with BioPerl's generic method:location ID — never a
    # malformed empty "ID="
    assert [r.feature_id for r in orphan] == ["exon:seqD1:115..130"]
    assert orphan[0].attributes == "ID=exon:seqD1:115..130"


def test_unlinked_rna_does_not_capture_model_exons(spark, tmp_path):
    """A GM_NOT_PART RNA (names a different gene) inside a gene model
    must not become the parent of the model's later exons — matching
    the gene-models oracle, which joins linked RNAs only."""
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        read_genbank_features,
    )

    gbk = """\
LOCUS       seqZ             200 bp    DNA     linear   BCT 01-JAN-2024
FEATURES             Location/Qualifiers
     gene            10..120
                     /locus_tag="G_0001"
     tRNA            20..60
                     /locus_tag="X_9999"
     exon            70..100
                     /locus_tag="G_0001"
ORIGIN
        1 gttgtacact ggactcaaga
//
"""
    path = tmp_path / "z.gbk"
    path.write_text(gbk)
    rows = {
        r.feature_type: r
        for r in read_genbank_features(spark, str(path)).collect()
    }
    # the foreign tRNA stays top-level under its own id
    assert rows["tRNA"].gb_id == "X_9999"
    assert rows["tRNA"].gb_parent == ""
    # the linked exon must NOT parent to the foreign RNA
    assert rows["exon"].gb_parent == ""
    assert rows["exon"].gb_id == "G_0001"


def test_genbank_top_level_rna_exons(spark):
    """strainD (VERDICT r11 #6): a non-mRNA RNA before any gene acts
    as its own top level (bp_genbank2gff3.pl:866-875) and owns
    subsequent exons; a gene resets the state, so the post-gene
    orphan exon parents to nothing."""
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        read_genbank_features,
    )

    rows = {
        (r.feature_type, r.start, r.end): (r.gb_id, r.gb_parent)
        for r in read_genbank_features(
            spark, f"{GBK}/strainD.gbk"
        ).collect()
    }
    assert rows[("ncRNA", 10, 100)] == ("D_0001", "")
    assert rows[("exon", 10, 40)] == ("", "D_0001")
    assert rows[("exon", 60, 100)] == ("", "D_0001")
    assert rows[("gene", 110, 140)] == ("D_0002", "")
    assert rows[("exon", 115, 130)] == ("", "")


def test_so_type_mapping_table_driven(spark):
    """with_so_type(type_map=DataFrame) — the obo-map configuration:
    table rows apply via broadcast join, unmapped keys pass through,
    and the same entries given as a dict produce identical output."""
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        load_type_map,
        read_genbank_features,
        with_so_type,
    )

    gbtx = str(FIXTURES / "genbank_types_ext")
    feats = read_genbank_features(spark, f"{gbtx}/*.gbk")
    tmap = load_type_map(spark, f"{gbtx}/typemap.tsv")
    got = {
        r.feature_type: r.so_type
        for r in with_so_type(feats, type_map=tmap).collect()
    }
    # extended entries only an ontology-derived table supplies
    assert got["misc_recomb"] == "recombination_feature"
    assert got["RBS"] == "ribosome_entry_site"
    assert got["mat_peptide"] == "mature_protein_region"
    assert got["TATA_signal"] == "TATA_box"
    assert got["oriT"] == "origin_of_transfer"
    # a no-obo-subset entry resolved through the TABLE
    assert got["misc_feature"] == "region"
    # unmapped keys pass through
    assert got["stem_loop"] == "stem_loop"
    assert got["gene"] == "gene"

    as_dict = {
        (r.ft_key, r.so_type) for r in tmap.collect()
    }
    dict_out = {
        r.feature_type: r.so_type
        for r in with_so_type(feats, type_map=dict(as_dict)).collect()
    }
    assert dict_out == got


def test_so_type_map_duplicate_key_does_not_fan_out(spark):
    """ADVICE r12: a duplicate ft_key row in a user-supplied map
    table must not duplicate feature rows through the broadcast join
    — the table path dedups exact re-statements of one mapping, so
    the row count is preserved."""
    from pangenomesasgraphdatabases_spark.sources.genbank import with_so_type

    feats = spark.createDataFrame(
        [("f1", "CDS"), ("f2", "tRNA"), ("f3", "CDS")],
        ["feature_id", "feature_type"],
    )
    dup_map = spark.createDataFrame(
        [("CDS", "CDS"), ("CDS", "CDS"), ("tRNA", "tRNA"), ("tRNA", "tRNA")],
        ["ft_key", "so_type"],
    )
    out = with_so_type(feats, type_map=dup_map).collect()
    assert len(out) == 3  # no fan-out
    got = {r.feature_id: r.so_type for r in out}
    assert got == {"f1": "CDS", "f2": "tRNA", "f3": "CDS"}


def test_so_type_map_conflicting_values_raise_by_default(spark):
    """ADVICE r13: one ft_key mapping to DIFFERENT so_type values is
    a data error the dict path cannot express — the table path must
    not silently pick a winner.  It raises at execution (lazily — plan construction stays jobless) naming
    the key; exact-duplicate re-statements of ONE mapping still
    dedup harmlessly."""
    import pytest

    from pangenomesasgraphdatabases_spark.sources.genbank import with_so_type

    feats = spark.createDataFrame(
        [("f1", "CDS"), ("f2", "tRNA")], ["feature_id", "feature_type"]
    )
    conflict_map = spark.createDataFrame(
        [("CDS", "CDS"), ("CDS", "zzz_conflicting"), ("tRNA", "tRNA")],
        ["ft_key", "so_type"],
    )
    out = with_so_type(feats, type_map=conflict_map)  # lazy: no raise yet
    with pytest.raises(Exception, match="conflicting so_type.*CDS"):
        out.collect()
    # exact duplicates are NOT conflicts
    dup_map = spark.createDataFrame(
        [("CDS", "CDS"), ("CDS", "CDS"), ("tRNA", "tRNA")],
        ["ft_key", "so_type"],
    )
    got = {
        r.feature_id: r.so_type
        for r in with_so_type(feats, type_map=dup_map).collect()
    }
    assert got == {"f1": "CDS", "f2": "tRNA"}
    # a conflict on a key NO feature row resolves through stays quiet
    # (the guard fires where the bad mapping is actually applied)
    only_trna = spark.createDataFrame(
        [("f2", "tRNA")], ["feature_id", "feature_type"]
    )
    got2 = with_so_type(only_trna, type_map=conflict_map).collect()
    assert got2[0].so_type == "tRNA"


def test_gff_qualifier_passthrough_escaping_and_multivalues(spark, tmp_path):
    """r14 qualifier passthrough: every non-dedicated qualifier lands
    as a sorted GFF3 attribute — repeated /db_xref comma-joins as a
    GFF3 multi-value, flag /pseudo becomes pseudo=true, reserved
    characters percent-encode per the GFF3 set (with %25 first so
    escapes never double), and translation is dropped."""
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        genbank_to_gff,
    )

    gbk = textwrap.dedent(
        """\
        LOCUS       seqQ             200 bp    DNA     linear   BCT 01-JAN-2024
        FEATURES             Location/Qualifiers
             CDS             10..60
                             /locus_tag="Q_0001"
                             /product="widget"
                             /db_xref="GeneID:123"
                             /db_xref="UniProtKB/Swiss-Prot;acc=P1"
                             /note="50% identity; a=b, c & d"
                             /pseudo
                             /translation="MKT"
        ORIGIN
                1 acgtacgtac
        //
        """
    )
    (tmp_path / "q.gbk").write_text(gbk)
    rows = genbank_to_gff(spark, str(tmp_path / "q.gbk")).collect()
    assert len(rows) == 1
    attrs = rows[0].attributes
    assert attrs == (
        "ID=CDS:Q_0001;locus_tag=Q_0001;product=widget"
        ";db_xref=GeneID:123,UniProtKB/Swiss-Prot%3Bacc%3DP1"
        ";note=50%25 identity%3B a%3Db%2C c %26 d"
        ";pseudo=true"
    )
    assert "translation" not in attrs


def test_flag_vs_empty_qualifier_distinguished(spark, tmp_path):
    """Review r14: a FLAG qualifier (/pseudo, no '=') emits key=true;
    an explicitly EMPTY value (/note="") emits key= — the two must
    not collapse."""
    from pangenomesasgraphdatabases_spark.sources.genbank import (
        genbank_to_gff,
    )

    gbk = textwrap.dedent(
        """\
        LOCUS       seqE             100 bp    DNA     linear   BCT 01-JAN-2024
        FEATURES             Location/Qualifiers
             CDS             10..60
                             /locus_tag="E_1"
                             /note=""
                             /ribosomal_slippage
        ORIGIN
                1 acgtacgtac
        //
        """
    )
    (tmp_path / "e.gbk").write_text(gbk)
    attrs = genbank_to_gff(spark, str(tmp_path / "e.gbk")).collect()[0].attributes
    assert ";note=;" in attrs + ";"
    assert "ribosomal_slippage=true" in attrs
