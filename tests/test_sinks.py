"""Sinks: CSV (S6/S16) and FASTA (S12) write + readback."""

from __future__ import annotations

from pathlib import Path

from pangenomesasgraphdatabases_spark.sources.fasta import write_fasta
from pangenomesasgraphdatabases_spark.sources.pirate import write_csv


def test_csv_sink_roundtrip(spark, pangenome, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("csv_sink"))
    out = pangenome.feature_in_strain
    write_csv(out, f"{d}/feature_in_strain")
    back = spark.read.csv(f"{d}/feature_in_strain", header=True)
    assert back.count() == out.count()
    assert set(back.columns) == set(out.columns)


def test_fasta_sink_strips_gaps(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fasta_sink"))
    df = spark.createDataFrame(
        [("c1", "AC-GT"), ("c2", "GGGG")], ["cluster_id", "reference_sequence"]
    )
    write_fasta(df, "cluster_id", "reference_sequence", f"{d}/out")
    lines = [r.value for r in spark.read.text(f"{d}/out").collect()]
    text = "\n".join(sorted(lines))
    assert ">c1\nACGT" in text.replace("\n\n", "\n") or ">c1" in text
    # gap stripped
    assert "AC-GT" not in text
    assert "ACGT" in text


def test_gff3_sink_roundtrip(spark, tmp_path):
    """write_gff3 -> parse_gff_features/read_gff_scaffolds round-trip:
    the sink emits exactly the file shape the sources read (S12's GFF
    sibling — the reference converter's output side)."""
    from pangenomesasgraphdatabases_spark.sources.genbank import read_genbank_sequences
    from pangenomesasgraphdatabases_spark.sources.gff import (
        parse_gff_features,
        read_gff_scaffolds,
        write_gff3,
    )

    GBK = str(Path(__file__).resolve().parent.parent / "fixtures_data" / "genbank")
    from pangenomesasgraphdatabases_spark.sources.genbank import genbank_to_gff

    feats = genbank_to_gff(spark, f"{GBK}/*.gbk")
    seqs = read_genbank_sequences(spark, f"{GBK}/*.gbk")
    out = str(tmp_path / "gff_out")
    write_gff3(feats, out, scaffolds=seqs)

    back = parse_gff_features(spark, f"{out}/file=*/*.gff")
    want = {
        (r.seqid, r.feature_type, r.start, r.end, r.strand, r.feature_id,
         r.attributes)
        for r in feats.collect()
    }
    got = {
        (r.seqid, r.feature_type, r.start, r.end, r.strand, r.feature_id,
         r.attributes)
        for r in back.collect()
    }
    assert got == want and len(got) > 0

    sback = read_gff_scaffolds(spark, f"{out}/file=*/*.gff")
    want_s = {(r.seqid, r.seq) for r in seqs.collect()}
    got_s = {(r.seqid, r.seq) for r in sback.collect()}
    assert got_s == want_s


def test_gff3_sink_no_blank_line_on_multiple_of_80(spark, tmp_path):
    """A scaffold whose length is an exact multiple of 80 must not
    leave a blank line inside the ##FASTA section (the 80-col wrap
    would otherwise end with a trailing newline)."""
    from pangenomesasgraphdatabases_spark.sources.gff import (
        read_gff_scaffolds,
        write_gff3,
    )

    feats = spark.createDataFrame(
        [("s1", "x", "CDS", 1, 3, ".", "+", "0", "ID=f1", "f1", "fixA")],
        "seqid string, source string, feature_type string, start int, "
        "end int, score string, strand string, phase string, "
        "attributes string, feature_id string, file string",
    )
    seqs = spark.createDataFrame(
        [("x", "A" * 160, "fixA"), ("y", "C" * 81, "fixA")],
        "seqid string, seq string, file string",
    )
    out = str(tmp_path / "gff_out")
    write_gff3(feats, out, scaffolds=seqs)

    lines = [
        r.value
        for r in spark.read.text(f"{out}/file=*/*.gff").collect()
    ]
    text = "\n".join(lines)
    fasta_part = text.split("##FASTA", 1)[1]
    assert "\n\n" not in fasta_part and not fasta_part.endswith("\n\n")
    back = read_gff_scaffolds(spark, f"{out}/file=*/*.gff")
    got = {(r.seqid, r.seq) for r in back.collect()}
    assert got == {("x", "A" * 160), ("y", "C" * 81)}
