"""gi_scan's values on the fixture graph against a pandas computation of
GIsInStrain.ipynb's rules: per-strain sample-stdev z-scores, |z| >= 1.5
deviations, rolling(10).mean smoothing, more than 5 deviations in
rolling(20), and rolling(5).max(number_genomes) <= core_max."""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.graph.build import strain_nodes
from pangenomesasgraphdatabases_spark.graph.gi_scan import gi_scan

# Accessory clusters sit in two of the fixture's strains, core ones in all.
CORE_MAX = 2
# GC repeated along each strain's genome in this order puts |z| close
# enough to 1.5 on both sides that a threshold of 1.45 or 1.55 changes
# the deviation runs (the test asserts it).
EDGE_GC = (-4, -4, 1, 0, -1, 2, 0, 3, 0)


def _notebook_scan(graph, z_thresh: float = 1.5) -> pd.DataFrame:
    feats = graph.features.select("feature_id", "strain", "feature_start", "GC", "CAI")
    ng = graph.ortholog.join(graph.clusters.select("cluster_id", "number_genomes"), "cluster_id")
    df = (
        feats.join(ng.select("feature_id", "number_genomes"), "feature_id", "left")
        .toPandas()
        .sort_values(["strain", "feature_start", "feature_id"])
    )
    by = df.groupby("strain")
    for m in ("GC", "CAI"):
        z = (df[m] - by[m].transform("mean")) / by[m].transform("std")
        # A strain whose metric never varies has null z-scores and flags.
        df[f"z_{m}"] = z.where(by[m].transform("std") > 0)
        dev = (df[f"z_{m}"].abs() >= z_thresh).astype(int).groupby(df["strain"])
        # The engine's trailing frames hold up to n rows at a strain's
        # head, where pandas' rolling(n) is NaN.
        run = dev.transform(lambda s: s.rolling(20, min_periods=1).sum()) > 5
        df[f"{m.lower()}_dev_run"] = run.astype(float).where(df[f"z_{m}"].notna())
    df["roll_mean_z_GC"] = df.groupby("strain")["z_GC"].transform(lambda s: s.rolling(10).mean())
    df["accessory_run"] = (
        df.groupby("strain")["number_genomes"].transform(
            lambda s: s.rolling(5, min_periods=1).max()
        )
        <= CORE_MAX
    ).astype(float)
    return df.set_index("feature_id")


def _assert_scan_matches(graph, want: pd.DataFrame) -> None:
    got = gi_scan(graph, core_max=CORE_MAX).toPandas().set_index("feature_id")
    assert sorted(got.index) == sorted(want.index)
    got = got.loc[want.index]
    for col in ("z_GC", "roll_mean_z_GC"):
        np.testing.assert_allclose(
            got[col].astype(float), want[col], rtol=1e-9, atol=1e-12, equal_nan=True
        )
    for col in ("gc_dev_run", "cai_dev_run", "accessory_run"):
        np.testing.assert_array_equal(got[col].astype(float), want[col], err_msg=col)


def test_gi_scan_matches_notebook_rules(pangenome):
    want = _notebook_scan(pangenome)
    for col in ("gc_dev_run", "cai_dev_run", "accessory_run"):
        assert set(want[col].dropna()) == {0, 1}, col  # each rule fires somewhere
    _assert_scan_matches(pangenome, want)


def test_gi_scan_z_threshold_is_1_5(pangenome):
    ordinal = ((F.col("feature_start") - 1) / 1000).cast("int")  # fixture layout
    gc = F.element_at(F.array(*map(F.lit, EDGE_GC)), ordinal % len(EDGE_GC) + 1)
    feats = pangenome.features.withColumn("GC", gc.cast("double"))
    graph = dataclasses.replace(pangenome, features=feats, strains=strain_nodes(feats))
    want = _notebook_scan(graph)
    for near in (1.45, 1.55):
        assert (_notebook_scan(graph, near)["gc_dev_run"] != want["gc_dev_run"]).any(), near
    _assert_scan_matches(graph, want)
