"""GFF3 cleanup/filter converter (SURVEY.md S9/P10/F10).

Reference: 01_fileConversion/convert_refseq_to_prokka_gff.py:20-112 —
keep only CDS/tRNA/pseudogene features (:67), skip features
overlapping the previously *kept* feature (:69-70, sequential
cascade), drop CDS whose genomic sequence has len%3>0, len<34, or an
internal stop codon after strand-aware translation (:73-89), then
de-duplicate IDs by suffixing .1/.2/... (:91-95), emitting in
(seqid, start) order.

Spark shape: the type filter and CDS sequence checks are declarative
(filter + join + pandas_udf); the overlap cascade and ID numbering are
order-dependent per genome, so they run in applyInPandas with one
group per input file — the same unit of sequential work as the
reference (one process per GFF), but distributed across files.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pangenomesasgraphdatabases_spark.functions.sequence import has_premature_stop
from pangenomesasgraphdatabases_spark.sources.fasta import FILE_STEM

GFF_COLS = [
    "file",
    "seqid",
    "source",
    "feature_type",
    "start",
    "end",
    "score",
    "strand",
    "phase",
    "attributes",
    "feature_id",
]


def parse_gff_features(spark: SparkSession, path: str) -> DataFrame:
    """GFF body (before ##FASTA) -> one row per feature.  Commas are
    stripped file-wide as the reference does (:24), ##-directives and
    the FASTA tail dropped."""
    lines = (
        spark.read.text(path)
        .withColumn("file", F.regexp_extract(F.input_file_name(), FILE_STEM, 1))
        .withColumn("value", F.regexp_replace("value", ",", ""))
    )
    # Mark FASTA-tail lines per file: a running max over the ##FASTA
    # marker; everything after it is sequence data.
    from pyspark.sql import Window

    w = (
        Window.partitionBy("file")
        .orderBy(F.monotonically_increasing_id())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lines = lines.withColumn(
        "in_fasta", F.max((F.col("value") == "##FASTA").cast("int")).over(w)
    )
    body = lines.filter(
        (F.col("in_fasta") == 0)
        & ~F.col("value").startswith("#")
        & (F.length(F.trim("value")) > 0)
    )
    c = F.split("value", "\t")
    return body.select(
        "file",
        F.split(F.element_at(c, 1), " ")[0].alias("seqid"),
        F.element_at(c, 2).alias("source"),
        F.element_at(c, 3).alias("feature_type"),
        F.element_at(c, 4).cast("int").alias("start"),
        F.element_at(c, 5).cast("int").alias("end"),
        F.element_at(c, 6).alias("score"),
        F.element_at(c, 7).alias("strand"),
        F.element_at(c, 8).alias("phase"),
        F.element_at(c, 9).alias("attributes"),
        F.regexp_extract(F.element_at(c, 9), r"ID=([^;]+)", 1).alias("feature_id"),
    ).filter(F.col("start").isNotNull())


def read_gff_scaffolds(spark: SparkSession, path: str) -> DataFrame:
    """FASTA tail -> one row per scaffold: (file, seqid, seq)."""
    whole = (
        spark.read.text(path, wholetext=True)
        .withColumn("file", F.regexp_extract(F.input_file_name(), FILE_STEM, 1))
        .withColumn("value", F.regexp_replace("value", ",", ""))
    )
    tail = whole.select(
        "file", F.substring_index("value", "##FASTA", -1).alias("fasta")
    )
    recs = tail.select(
        "file", F.explode(F.split("fasta", ">")).alias("rec")
    ).filter(F.length(F.trim("rec")) > 0)
    return recs.select(
        "file",
        F.split(F.trim(F.substring_index("rec", "\n", 1)), " ")[0].alias("seqid"),
        F.regexp_replace(
            F.expr("substring(rec, instr(rec, '\n') + 1)"), "\n", ""
        ).alias("seq"),
    ).filter(F.length("seq") > 0)


_CLEAN_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("seqid", T.StringType()),
        T.StructField("feature_type", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("strand", T.StringType()),
        T.StructField("feature_id", T.StringType()),
    ]
)


def clean_gff(spark: SparkSession, path: str, ignore_overlapping: bool = True) -> DataFrame:
    """Full S9 pipeline -> cleaned feature table."""
    return clean_parsed_features(
        parse_gff_features(spark, path),
        read_gff_scaffolds(spark, path),
        ignore_overlapping,
    )


def clean_parsed_features(
    feats: DataFrame, scaffolds: DataFrame, ignore_overlapping: bool = True
) -> DataFrame:
    """S9 cleanup core over already-parsed frames — shared by the GFF
    path (clean_gff) and the GenBank path (genbank.clean_genbank):
    type whitelist, CDS sequence checks against the scaffold
    substring, then the per-file sequential overlap cascade + ID
    numbering.  `feats` needs (file, seqid, feature_type, start, end,
    strand, feature_id); `scaffolds` (file, seqid, seq)."""
    # P10 type whitelist (:67) — substring containment as in reference.
    keep = (
        F.col("feature_type").contains("CDS")
        | F.col("feature_type").contains("pseudogene")
        | F.col("feature_type").contains("tRNA")
    )
    feats = feats.filter(keep)

    # CDS sequence checks (:73-89): substring the scaffold, then
    # length%3 / min-length declaratively + translation check in a
    # pandas_udf (F10).
    j = feats.join(scaffolds, ["file", "seqid"], "left")
    gene_seq = F.substring("seq", F.col("start"), F.col("end") - F.col("start") + 1)
    j = j.withColumn("gene_seq", gene_seq).drop("seq")
    is_cds = F.col("feature_type").contains("CDS")
    # Sequence checks apply only when the scaffold matched: the
    # reference keeps a CDS whose seqid has no FASTA scaffold
    # (convert_refseq_to_prokka_gff.py:73-89 — premature_stop stays
    # False); an ungated NULL gene_seq made the filter drop the row.
    bad_len = F.col("gene_seq").isNotNull() & (
        (F.length("gene_seq") % 3 > 0) | (F.length("gene_seq") < 34)
    )
    j = j.filter(~(is_cds & bad_len))
    j = j.withColumn(
        "premature", is_cds & has_premature_stop("gene_seq", "strand")
    ).filter(~F.col("premature"))

    # Sequential per-file stage: overlap cascade + ID numbering.
    def finalize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["seqid", "start"], kind="mergesort")
        out_rows = []
        prev_chrom, prev_end = "", -1
        ids: set[str] = set()
        for r in pdf.itertuples(index=False):
            if ignore_overlapping and r.seqid == prev_chrom and r.start < prev_end:
                continue
            fid = r.feature_id
            c = 1
            while fid in ids:
                fid = fid + "." + str(c)
                c += 1
            ids.add(fid)
            prev_chrom, prev_end = r.seqid, r.end
            out_rows.append(
                (r.file, r.seqid, r.feature_type, r.start, r.end, r.strand, fid)
            )
        return pd.DataFrame(out_rows, columns=[f.name for f in _CLEAN_SCHEMA.fields])

    proj = j.select(
        "file", "seqid", "feature_type", "start", "end", "strand", "feature_id"
    )
    return proj.groupBy("file").applyInPandas(finalize, _CLEAN_SCHEMA)


def write_gff3(
    feats: DataFrame, path: str, scaffolds: DataFrame | None = None
) -> None:
    """GFF3 sink — the OUTPUT side of the reference's converter stage
    (bp_genbank2gff3.pl emits GFF3 files the rest of the pipeline
    consumes; readme.md:29-41): one tab-joined feature line per row of
    a GFF_COLS-shaped frame (the ``genbank_to_gff`` /
    ``parse_gff_features`` contract), ``##gff-version 3`` headers, and
    optionally the ``##FASTA`` tail with one wrapped scaffold record
    per (file, seqid, seq) row — exactly the file shape
    ``parse_gff_features`` + ``read_gff_scaffolds`` read back
    (round-trip pinned by test_gff_clean.py).

    One output file per input ``file`` value via partitionBy — the
    per-strain file layout the reference's directory convention
    expects; each file lands as ``<path>/file=<stem>/<stem>.gff``.
    The part files are renamed to the stem after the write: Spark's
    part-file names repeat the same task UUID across partition dirs,
    and the READERS identify files by filename stem (input_file_name
    regex) — identical stems would merge two strains into one logical
    file and swallow everything after the first ##FASTA marker.  The
    rename is one driver-side metadata op per output file (local
    filesystem here; an object-store deployment does the same with
    its FileSystem rename)."""
    line = F.concat_ws(
        "\t",
        "seqid",
        "source",
        "feature_type",
        F.col("start").cast("string"),
        F.col("end").cast("string"),
        "score",
        "strand",
        "phase",
        "attributes",
    )
    body = feats.select("file", line.alias("value"), F.lit(1).alias("ord"))
    header = (
        feats.select("file").distinct().select(
            "file", F.lit("##gff-version 3").alias("value"),
            F.lit(0).alias("ord"),
        )
    )
    parts = [header, body]
    if scaffolds is not None:
        marker = scaffolds.select("file").distinct().select(
            "file", F.lit("##FASTA").alias("value"), F.lit(2).alias("ord")
        )
        fasta = scaffolds.select(
            "file",
            F.concat(
                F.lit(">"), F.col("seqid"), F.lit("\n"),
                # Strip the trailing "\n" a length that is an exact
                # multiple of 80 leaves behind — it would emit a blank
                # line inside the ##FASTA section (non-canonical FASTA).
                F.regexp_replace(
                    F.regexp_replace("seq", "(.{80})", "$1\n"), "\n$", ""
                ),
            ).alias("value"),
            F.lit(3).alias("ord"),
        )
        parts += [marker, fasta]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    (
        out.repartition("file")
        .sortWithinPartitions("file", "ord", "value")
        .select("file", "value")
        .write.mode("overwrite")
        .partitionBy("file")
        .text(path)
    )
    import glob as _glob
    import os as _os

    for d in _glob.glob(_os.path.join(path, "file=*")):
        stem = _os.path.basename(d).split("=", 1)[1]
        parts = sorted(_glob.glob(_os.path.join(d, "part-*")))
        if len(parts) == 1:
            _os.rename(parts[0], _os.path.join(d, f"{stem}.gff"))
        else:  # >1 part per file value: concatenate in part order
            with open(_os.path.join(d, f"{stem}.gff"), "wb") as outf:
                for p in parts:
                    with open(p, "rb") as inf:
                        outf.write(inf.read())
                    _os.remove(p)
