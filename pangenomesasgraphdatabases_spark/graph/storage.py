"""Persistence for the pangenome graph: Parquet as the internal format
(typed, columnar — replaces the reference's header-only CSV
interchange, SURVEY.md section 1.1).

A saved graph is one flat parquet directory per table,
``<path>/<table>``, plus ``<path>/_schema.json``: each table's Spark
schema, written after every table has committed.  The schema file is
the commit marker — a save that fails partway leaves none, and
``load_graph`` refuses a directory without it — and it lets
``load_graph`` open the tables without a Spark job (no footer schema
inference, no parallel partition listing).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from pangenomesasgraphdatabases_spark.graph.build import PangenomeGraph

_SCHEMA_FILE = "_schema.json"

_TABLES = (
    "features",
    "clusters",
    "strains",
    "ortholog",
    "feature_neighbour",
    "cluster_neighbour",
    "feature_in_strain",
    "cluster_in_strain",
)

# Table jobs materialize_graph runs at once after ortholog.
_MATERIALIZE_WORKERS = 4


def materialize_graph(graph: PangenomeGraph, write) -> None:
    """Materialize every graph table by submitting the independent
    output jobs from a small thread pool (r15, guide §2.6: actions are
    only sequential because driver code calls them sequentially — the
    eight table jobs share no dependency, so the scheduler back-fills
    cores idled by one job's stage tails with the next job's tasks).

    ``write(df, name)`` performs one table's output action (noop sink,
    parquet write, ...).  ``ortholog`` runs FIRST and alone: it is the
    cheapest full scan of the shared slim hub (`fc`, persisted by
    build_graph), so when the graph is built with persist=True the
    cache populates exactly once instead of racing across concurrent
    jobs.  That persist IS the no-duplicate-work guarantee (ADVICE
    r15): Spark SQL reuses exchanges only WITHIN one compiled plan —
    separately submitted DataFrame actions get fresh shuffle IDs, so
    with persist=False the concurrent jobs each recompute the shared
    fc lineage (duplicated work; over in-memory inputs, duplicated
    rows, so such a graph's jobs run in turn).  Do not drop
    persist=True in the build job
    expecting cross-job stage sharing to cover it.  Job descriptions
    are thread-local, so each table labels its own jobs in the UI."""
    from concurrent.futures import ThreadPoolExecutor

    spark = graph.ortholog.sparkSession

    def _one(name: str) -> None:
        spark.sparkContext.setJobDescription(f"materialize {name}")
        try:
            write(getattr(graph, name), name)
        finally:
            spark.sparkContext.setJobDescription(None)

    _one("ortholog")
    rest = [n for n in _TABLES if n != "ortholog"]
    # Over in-memory inputs (LocalRelation, e.g. createDataFrame of
    # pandas frames) concurrent jobs that recompute the unpersisted hub
    # wrote duplicated rows: 22 of 160 saves of the 332-row fixture
    # graph, built with persist=False, had extra features,
    # feature_neighbour or clusters rows (4 workers, 4 cores).  None of
    # 40 did with the jobs run one at a time, with persist=True, or with
    # the same rows read from parquet.  In-memory inputs are
    # driver-sized, so run those jobs in turn.
    workers = 1 if _reads_local_rows(graph.ortholog) else _MATERIALIZE_WORKERS
    with ThreadPoolExecutor(max_workers=workers) as pool:
        # list() drains the iterator so the first failure re-raises.
        list(pool.map(_one, rest))


def _reads_local_rows(df) -> bool:
    """True when ``df``'s plan reads an in-memory LocalRelation."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        if leaves.next().nodeName() == "LocalRelation":
            return True
    return False


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``, so non-local stores work too."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def save_graph(graph: PangenomeGraph, path: str) -> None:
    """Write every vertex/edge table as flat parquet under
    <path>/<table>, then commit by writing <path>/_schema.json.

    Table writes go through materialize_graph (r15): eight independent
    parquet jobs overlap instead of running back-to-back.  A schema
    file left by an earlier save is deleted first, so a save that fails
    partway leaves a directory load_graph refuses."""
    spark = graph.ortholog.sparkSession
    fs, schema_path = _hadoop_path(spark, f"{path}/{_SCHEMA_FILE}")
    fs.delete(schema_path, False)

    def _write(df, name: str) -> None:
        df.write.mode("overwrite").parquet(f"{path}/{name}")

    materialize_graph(graph, _write)
    schemas = {name: getattr(graph, name).schema.jsonValue() for name in _TABLES}
    out = fs.create(schema_path, True)
    try:
        out.write(bytearray(json.dumps(schemas).encode("utf-8")))
    finally:
        out.close()


def load_graph(spark: SparkSession, path: str) -> PangenomeGraph:
    """Open a graph written by save_graph.  Reads each table with the
    schema recorded in <path>/_schema.json, so no Spark job runs.
    Raises FileNotFoundError when the schema file is missing: the save
    never committed."""
    fs, schema_path = _hadoop_path(spark, f"{path}/{_SCHEMA_FILE}")
    if not fs.exists(schema_path):
        raise FileNotFoundError(
            f"load_graph: no {_SCHEMA_FILE} under {path}; not a committed save_graph output"
        )
    stream = fs.open(schema_path)
    try:
        raw = spark._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream)
    finally:
        stream.close()
    schemas = json.loads(bytes(raw).decode("utf-8"))
    return PangenomeGraph(
        **{
            name: spark.read.schema(StructType.fromJson(schemas[name])).parquet(
                f"{path}/{name}"
            )
            for name in _TABLES
        }
    )
