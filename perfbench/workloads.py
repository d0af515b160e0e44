"""The benchmark's workloads.  Each is a closed loop with one client:
the next op starts when the previous one has returned.

``graph_build_query``: one op builds the pangenome graph from the
seed's inputs and saves it (writes), then loads the saved graph and
runs the two notebooks' queries on it (reads): three single-strain GI
scans collected to pandas, one all-strain GI scan through the ``noop``
sink and one ``find_rgps``, collected.

``registry_sf0.1``: one op is a pass over ``REGISTRY_QUERIES``; for
each, ``q.fn(spark, sf)`` and then the result collected to pandas.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from perfbench import fingerprint, gen_graph, gen_registry

# A join and a window query.  The heavier registered queries (ANN,
# n-gram and LSH dedup, the aligner) each cost 9-13 s a pass on a
# 4-core host and do not fit the benchmark's run budget; see README.md.
REGISTRY_QUERIES = ("multiway_join_revenue", "events_sessionize")
REGISTRY_SF = 0.1
REGISTRY_SEED = 42  # the registry inputs do not depend on --seed
GRAPH_SPEC = gen_graph.GraphSpec()
WARMUP_SPEC = gen_graph.GraphSpec(
    n_strains=40, n_core=60, n_mobile_islands=4, n_plain_islands=2,
    island_len=(6, 8), carrier_frac=(0.1, 0.25),
)
WARMUP_SEED = 0

GRAPH_CALLS = (
    "graph.build.build_graph",
    "graph.storage.save_graph",
    "graph.storage.load_graph",
    "graph.gi_scan.strain",
    "graph.gi_scan.genome",
    "graph.rgp.find_rgps",
)


class Failed(Exception):
    """An op returned a wrong result."""


def _atomic_dir(path: str, fill) -> str:
    """Create ``path`` by filling a temporary sibling and renaming it,
    so an interrupted run never leaves a half-written cache."""
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        fill(tmp)
        os.rename(tmp, path)
    return path


# -- graph_build_query ----------------------------------------------------


class GraphWorkload:
    name = "graph_build_query"
    warmup_ops = 1

    def __init__(self, work: str, seed: int, tracer, spec: gen_graph.GraphSpec = GRAPH_SPEC):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.spec = spec
        self.out_dirs: list[str] = []

    def prepare(self) -> None:
        """Write the inputs and planted truth, once per seed."""
        self.inputs = [self._prepare(WARMUP_SEED, WARMUP_SPEC), self._prepare(self.seed, self.spec)]

    def _prepare(self, seed: int, spec: gen_graph.GraphSpec) -> dict:
        def fill(tmp: str) -> None:
            import pyarrow.parquet as pq

            g = gen_graph.generate(seed, spec)
            pq.write_table(g.feature_nodes, f"{tmp}/feature_nodes.parquet")
            pq.write_table(g.cluster_nodes, f"{tmp}/cluster_nodes.parquet")
            pq.write_table(g.composition, f"{tmp}/composition.parquet")
            with open(f"{tmp}/truth.json", "w") as fh:
                json.dump(g.truth, fh)

        spec_key = hashlib.sha256(repr(spec).encode()).hexdigest()[:12]
        path = _atomic_dir(f"{self.work}/graph/seed{seed}-{spec_key}", fill)
        with open(f"{path}/truth.json") as fh:
            return {"path": path, "spec": spec, "truth": json.load(fh)}

    def load(self, spark) -> None:
        self.spark = spark
        for inp in self.inputs:
            inp["frames"] = [
                spark.read.parquet(f"{inp['path']}/{t}.parquet")
                for t in ("feature_nodes", "cluster_nodes", "composition")
            ]

    def op(self, k: int):
        from pyspark.sql import functions as F

        from pangenomesasgraphdatabases_spark.graph.build import build_graph
        from pangenomesasgraphdatabases_spark.graph.gi_scan import gi_scan
        from pangenomesasgraphdatabases_spark.graph.rgp import find_rgps
        from pangenomesasgraphdatabases_spark.graph.storage import load_graph, save_graph

        tr, spark = self.tracer, self.spark
        # The warm-up ops run on a small graph: they take the JIT, codegen
        # and file caches through every call for less than full-size ops.
        inp = self.inputs[int(k >= self.warmup_ops)]
        out = f"{self.work}/graph/out/op{k}"
        self.out_dirs.append(out)
        with tr.span("op.build"):
            with tr.span("graph.build.build_graph"):
                graph = build_graph(spark, *inp["frames"], persist=True)
            with tr.span("graph.storage.save_graph") as s:
                save_graph(graph, out)
            s.counters.update(_dir_size(out))
            spark.catalog.clearCache()
        strains = {}
        with tr.span("op.query"):
            with tr.span("graph.storage.load_graph"):
                saved = load_graph(spark, out)
            for strain in inp["truth"]["scan_strains"]:
                with tr.span("graph.gi_scan.strain"):
                    strains[strain] = (
                        gi_scan(saved, core_max=inp["spec"].core_max)
                        .filter(F.col("strain") == strain)
                        .toPandas()
                    )
            with tr.span("graph.gi_scan.genome"):
                gi_scan(saved, core_max=inp["spec"].core_max).write.format("noop").mode(
                    "overwrite"
                ).save()
            with tr.span("graph.rgp.find_rgps"):
                rgps = find_rgps(saved).collect()
        return inp["truth"], out, strains, rgps

    def check(self, result) -> None:
        truth, out, strains, rgps = result
        # Keep the newest graph (the counts check reads it); drop older.
        while len(self.out_dirs) > 1:
            shutil.rmtree(self.out_dirs.pop(0), ignore_errors=True)
        for t in ("features", "clusters", "strains", "ortholog", "feature_neighbour",
                  "cluster_neighbour", "feature_in_strain", "cluster_in_strain"):
            if not os.path.exists(f"{out}/{t}/_SUCCESS"):
                raise Failed(f"save_graph wrote no {t}")
        for strain, pdf in strains.items():
            pdf = pdf.sort_values("pos")
            want = truth["gi"][strain]
            for col, flags in want.items():
                if pdf[col].tolist() != flags:
                    raise Failed(f"gi_scan {col} differs from the planted runs in {strain}")
        got = sorted(_rgp_key(r.asDict()) for r in rgps)
        want = sorted(_rgp_key(r) for r in truth["rgp"])
        if got != want:
            raise Failed(f"find_rgps: {len(got)} rows, {len(want)} planted; first diff "
                         f"{next((a for a, b in zip(got, want) if a != b), None)}")

    def check_counts(self) -> None:
        """Feature, edge and cluster counts of the last saved graph, read
        with pyarrow rather than Spark."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        out = self.out_dirs[-1]
        for t, want in self.inputs[-1]["truth"]["counts"].items():
            if t == "lonely":
                flags = ds.dataset(f"{out}/clusters").to_table(columns=["lonely_cluster"])
                got = pc.sum(flags["lonely_cluster"].cast("int64")).as_py()
            else:
                got = ds.dataset(f"{out}/{t}", partitioning="hive").count_rows()
            if got != want:
                raise Failed(f"saved graph has {got} {t}, planted {want}")

    def close(self) -> None:
        shutil.rmtree(f"{self.work}/graph/out", ignore_errors=True)

    def report(self, spans) -> dict[str, list[float]]:
        """Wall times of the timed ops' parts."""
        return {
            "build_s": [s.wall_s for s in spans if s.name == "op.build"],
            "strain_gi_s": [s.wall_s for s in spans if s.name == "graph.gi_scan.strain"],
            "genome_gi_s": [s.wall_s for s in spans if s.name == "graph.gi_scan.genome"],
            "rgp_s": [s.wall_s for s in spans if s.name == "graph.rgp.find_rgps"],
        }


def _rgp_key(r: dict) -> tuple:
    return (
        r["StrainName"], r["Anchor1ID"], r["Anchor2ID"], r["InsertionStart"],
        r["InsertionEnd"], r["InsertionNbFeatures"], tuple(r["InsertionListGC"]),
        tuple(r["InsertionListClusterID"]), tuple(r["InsertionListMobileNames"]),
        r["InsertionNbTRNAs"],
    )


def _dir_size(path: str) -> dict[str, float]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return {"files_written": files, "bytes_written": size}


# -- registry_sf0.1 -------------------------------------------------------


class RegistryWorkload:
    name = f"registry_sf{REGISTRY_SF}"
    warmup_ops = 4

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.tracer = tracer
        self.checked = False

    def prepare(self) -> None:
        """Write the tables and the oracle fingerprints once."""
        from pangenomesasgraphdatabases_spark.queries.registry import all_queries

        self.data = _atomic_dir(
            f"{self.work}/registry/sf{REGISTRY_SF}-seed{REGISTRY_SEED}",
            lambda tmp: gen_registry.write(tmp, REGISTRY_SEED, REGISTRY_SF),
        )
        # Keyed by the oracle text, so a changed oracle is fingerprinted anew.
        queries = all_queries()
        key = hashlib.sha256(
            json.dumps([(n, queries[n].oracle) for n in REGISTRY_QUERIES]).encode()
        ).hexdigest()[:16]
        path = f"{os.path.dirname(self.data)}/fingerprints-{key}.json"
        if not os.path.exists(path):
            fps = fingerprint.oracle_fingerprints(self.data, list(REGISTRY_QUERIES))
            with open(f"{path}.tmp", "w") as fh:
                json.dump(fps, fh)
            os.rename(f"{path}.tmp", path)
        with open(path) as fh:
            self.fingerprints = json.load(fh)

    def load(self, spark) -> None:
        from pangenomesasgraphdatabases_spark.queries.registry import all_queries

        self.spark = spark
        self.queries = all_queries()

    def op(self, k: int) -> dict:
        tr, spark = self.tracer, self.spark
        results = {}
        for name in REGISTRY_QUERIES:
            with tr.span(f"queries.{name}.construct"):
                df = self.queries[name].fn(spark, self.data)
            with tr.span(f"queries.{name}.collect"):
                results[name] = df.toPandas()
            spark.catalog.clearCache()
        return results

    def check(self, results: dict) -> None:
        for name, pdf in results.items():
            want = self.fingerprints[name]
            if len(pdf) != want["rows"]:
                raise Failed(f"{name}: {len(pdf)} rows, oracle {want['rows']}")
        if not self.checked:  # the full check, once per run
            self.checked = True
            for name, pdf in results.items():
                why = fingerprint.mismatch(fingerprint.fingerprint(pdf), self.fingerprints[name])
                if why:
                    raise Failed(f"{name}: {why}")

    def check_counts(self) -> None:
        pass

    def close(self) -> None:
        pass

    def report(self, spans) -> dict[str, list[float]]:
        return {"suite_s": [s.wall_s for s in spans if s.name == "op"]}


WORKLOADS = {w.name: w for w in (GraphWorkload, RegistryWorkload)}
