"""FASTA-family sources (SURVEY.md S3, S4, S5).

All three readers stay in the DataFrame API: per-file wholetext scan ->
split on '>' -> explode records -> regexp field extraction.  Files are
the parallelism unit (one task per file group), which matches the
reference's data layout (one FASTA per cluster / one GFF per strain);
at scale thousands of files fan out across executors with no driver
involvement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# filename stem = first '.'-segment of the basename (the reference uses
# filename.split('.')[0], pirateToDatabase.py:26, 121, 166)
FILE_STEM = r"([^/]+?)\.[^/]*$"


def _wholetext(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.text(path, wholetext=True)
        .withColumn("file", F.input_file_name())
        .withColumn("stem", F.regexp_extract("file", FILE_STEM, 1))
    )


def read_representative_headers(spark: SparkSession, path: str) -> DataFrame:
    """S3: representative_sequences.ffn headers -> (cluster_name,
    reference_locus).

    Reference: pirateToDatabase.py:41-54 — header fields split on ';',
    field 0 minus '>' is the cluster/family name, the 'locus_tag=' field
    carries the representative locus.
    """
    lines = spark.read.text(path)
    headers = lines.filter(F.col("value").startswith(">"))
    fields = F.split("value", ";")
    return headers.select(
        F.regexp_replace(F.element_at(fields, 1), "^>", "").alias("cluster_name"),
        F.regexp_replace(
            F.element_at(
                F.filter(fields, lambda x: x.startswith("locus_tag=")), 1
            ),
            "locus_tag=",
            "",
        ).alias("reference_locus"),
    )


def read_feature_fasta(spark: SparkSession, path: str) -> DataFrame:
    """S4: feature_sequences/<cluster>.nucleotide.fasta ->
    (Feature, Seq, Cluster).

    Reference: pirateToDatabase.py:110-126 — one '>locus' header + one
    aligned sequence line per member; Cluster comes from the filename
    (field 0 of '.'-split, :121).  Implemented as wholetext ->
    split('>') -> explode so multi-line sequences also parse.
    """
    recs = _wholetext(spark, path).select(
        F.col("stem").alias("Cluster"),
        F.explode(F.split("value", ">")).alias("rec"),
    )
    recs = recs.filter(F.length(F.trim("rec")) > 0)
    nl = F.instr("rec", "\n")
    return recs.select(
        "Cluster",
        F.trim(F.substring_index("rec", "\n", 1)).alias("Feature"),
        F.regexp_replace(F.expr("substring(rec, instr(rec, '\n') + 1)"), "\n", "").alias(
            "Seq"
        ),
    ).filter(F.length("Seq") > 0)


def read_gff_fasta_tail(spark: SparkSession, path: str) -> DataFrame:
    """S5: modified_gffs/<Strain>.gff -> one (Strain, Sequence) row per
    file: skip to '##FASTA', drop header lines, concatenate the rest.

    Reference: pirateToDatabase.py:136-173 (skip at :159, concat at
    :163-164).
    """
    files = _wholetext(spark, path)
    tail = F.substring_index("value", "##FASTA", -1)
    # Drop '>' header lines, then squash newlines.
    no_headers = F.regexp_replace(tail, r"(?m)^>.*$", "")
    return files.select(
        F.col("stem").alias("Strain"),
        F.regexp_replace(no_headers, r"\n", "").alias("Sequence"),
    )


def write_fasta(df: DataFrame, id_col: str, seq_col: str, path: str) -> None:
    """S12: FASTA sink — '>' + id line + sequence line, gaps stripped
    (extendingDB_performingBlast.py:52-59)."""
    out = df.select(
        F.concat(
            F.lit(">"),
            F.col(id_col),
            F.lit("\n"),
            F.regexp_replace(F.col(seq_col), "-", ""),
        ).alias("value")
    )
    out.write.mode("overwrite").text(path)
