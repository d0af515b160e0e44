"""The parquet schema memo of ``data.read_parquet``: a file read again
submits no Spark job, and a file rewritten at the same path is read
with its new schema."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from pangenomesasgraphdatabases_spark import data

SF = "/root/testdata/sf0.001"


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _jobs(spark, build) -> int:
    """Spark jobs submitted while ``build()`` runs."""
    start = _next_job_id(spark)
    build()
    return _next_job_id(spark) - start


def test_second_table_read_submits_no_job(spark):
    data.table(spark, SF, "lineitem")
    assert _jobs(spark, lambda: data.table(spark, SF, "lineitem")) == 0


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert data.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x", "y", "z"], "c": [1.5, 2.5, 3.5]}), path)
    df = data.read_parquet(spark, path)
    assert df.columns == ["b", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [
        ("x", 1.5), ("y", 2.5), ("z", 3.5)
    ]


def test_two_reads_join_without_aliases(spark):
    """Each read gets its own attribute ids, so a join of two reads of
    one table resolves without aliases: 5 nations have a key in 0..4,
    and each region key is shared by 5 nations."""
    a = data.table(spark, SF, "nation")
    b = data.table(spark, SF, "nation")
    assert a.join(b, a["n_nationkey"] == b["n_regionkey"]).count() == 25


def test_benchmark_queries_build_without_jobs(spark):
    """The two queries of the ``registry_sf0.1`` benchmark workload,
    built a second time, submit no job: their only construction jobs
    were schema inference."""
    from pangenomesasgraphdatabases_spark.queries.registry import all_queries

    queries = all_queries()
    for name in ("multiway_join_revenue", "events_sessionize"):
        queries[name].fn(spark, SF)
        assert _jobs(spark, lambda: queries[name].fn(spark, SF)) == 0, name
