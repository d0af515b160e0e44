"""Custom Python DataSource: spark.read.format('fasta')."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

RAW = str(Path(__file__).resolve().parent.parent / "fixtures_data" / "pirate_raw")


@pytest.fixture(scope="module", autouse=True)
def register(spark):
    from pangenomesasgraphdatabases_spark.sources.fasta_datasource import (
        FastaDataSource,
    )

    spark.dataSource.register(FastaDataSource)


def test_read_feature_fastas(spark):
    df = spark.read.format("fasta").load(f"{RAW}/feature_sequences/*.fasta")
    assert df.count() == 330  # 332 features - 2 lonely
    row = df.filter(F.col("record_id") == "S01_00010").collect()[0]
    from pangenomesasgraphdatabases_spark.graph.fixtures import _seq

    assert row.sequence == _seq("S01_00010")
    assert row.file.endswith("CORE_10.nucleotide.fasta")


def test_multiline_sequences_and_description(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("fa")
    (d / "x.fasta").write_text(
        ">r1 some description here\nACGT\nACGT\nAC\n>r2\nGGGG\n"
    )
    df = spark.read.format("fasta").load(f"{d}/*.fasta")
    rows = {r.record_id: r for r in df.collect()}
    assert rows["r1"].sequence == "ACGTACGTAC"
    assert rows["r1"].description == "some description here"
    assert rows["r2"].sequence == "GGGG"
    assert rows["r2"].description is None


def test_missing_glob_raises(spark):
    with pytest.raises(Exception, match="no FASTA files|FileNotFound"):
        spark.read.format("fasta").load("/nonexistent/*.fasta").collect()
