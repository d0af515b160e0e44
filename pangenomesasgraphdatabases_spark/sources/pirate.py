"""PIRATE output sources (SURVEY.md S1, S2) + CSV sinks (S6).

S1 reads the whole co-ords directory in ONE spark.read.csv over a glob
(the reference loops files and concats pandas frames,
pirateToDatabase.py:20-29); the Strain column derives from the
filename via input_file_name, and Catalyst prunes/pushes down into
each file scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

COORDS_SCHEMA = T.StructType(
    [
        T.StructField("Name", T.StringType()),
        T.StructField("Gene", T.StringType()),
        T.StructField("Start", T.IntegerType()),
        T.StructField("End", T.IntegerType()),
        T.StructField("Length", T.IntegerType()),
        T.StructField("Type", T.StringType()),
        T.StructField("Strand", T.StringType()),
        T.StructField("Product", T.StringType()),
    ]
)


def read_coords(spark: SparkSession, path: str) -> DataFrame:
    """S1: per-strain co-ords TSVs -> one DataFrame with Strain from the
    filename (pirateToDatabase.py:20-29; rename Type->FeatureType :28)."""
    df = (
        spark.read.csv(path, sep="\t", header=True, schema=COORDS_SCHEMA)
        .withColumn(
            "Strain", F.regexp_extract(F.input_file_name(), r"([^/]+?)\.[^/]*$", 1)
        )
    )
    return df.select(
        "Name",
        "Start",
        "End",
        "Length",
        F.col("Type").alias("FeatureType"),
        "Strand",
        "Product",
        "Strain",
    )


def read_gene_families(spark: SparkSession, path: str) -> DataFrame:
    """S2: PIRATE.gene_families.tsv (wide, one column per genome after
    the metadata block) -> metadata + feature_ids ARRAY.

    Reference: pirateToDatabase.py:70-88 sniffs the width, keeps cols
    [0,1,3,4,6,17..n] and folds the per-genome columns into a
    ';'-joined string; we keep the fold as a real ArrayType (no string
    round-trip) and unescape multi-copy '(a:b)' cells (:88).
    The fixture-format file carries the metadata columns first and one
    column per strain after the six metadata columns.
    """
    raw = spark.read.csv(path, sep="\t", header=True, inferSchema=False)
    meta, genome_cols = raw.columns[:6], raw.columns[6:]
    per_genome = F.array(*[F.col(c) for c in genome_cols])
    cleaned = F.transform(
        per_genome, lambda x: F.regexp_replace(F.regexp_replace(x, r"[()]", ""), ":", ";")
    )
    joined = F.concat_ws(";", cleaned)
    return raw.select(
        F.col(meta[0]).alias("allele_name"),
        F.col(meta[1]).alias("gene_family"),
        F.col(meta[2]).alias("consensus_product"),
        F.col(meta[3]).cast("int").alias("threshold"),
        F.col(meta[4]).cast("int").alias("number_genomes"),
        F.col(meta[5]).cast("double").alias("average_length"),
        F.filter(F.split(joined, ";"), lambda x: (x != "") & (x != "0")).alias(
            "feature_ids"
        ),
    )


def write_csv(df: DataFrame, path: str) -> None:
    """S6: CSV sink with header (pirateToDatabase.py:329-330)."""
    df.write.mode("overwrite").option("header", True).csv(path)
