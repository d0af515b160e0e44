"""RGP detection on the fixture: the planted insertion must be found
with hand-computed coordinates (FIXTURES.md section 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.graph import fixtures as fx
from pangenomesasgraphdatabases_spark.graph import rgp
from pangenomesasgraphdatabases_spark.graph.rgp import anchor_pairs, find_rgps


@pytest.fixture(scope="module")
def rgps(pangenome):
    return find_rgps(pangenome).collect()


def test_anchor_pair_found(pangenome):
    pairs = {(r.c1, r.c2) for r in anchor_pairs(pangenome).collect()}
    assert (fx.ANCHOR_A, fx.ANCHOR_B) in pairs


def test_insertion_found_in_both_strains(rgps):
    found = {r.StrainName for r in rgps}
    assert found == set(fx.INSERTION_STRAINS)


def test_insertion_fields(rgps):
    r = next(x for x in rgps if x.StrainName == "S01")
    assert r.Anchor1ID == fx.ANCHOR_A
    assert r.Anchor2ID == fx.ANCHOR_B
    # Anchors at per-strain ordinals 10 and 17 (6 accessory between);
    # interior = ordinals 11..16; start = 1000*pos+1, end = start+899.
    assert r.InsertionNbFeatures == fx.N_ACCESSORY
    assert r.InsertionStart == 1000 * 11 + 1
    assert r.InsertionEnd == 1000 * 16 + 900
    # Interior GC list: accessory features at 70.x.
    assert len(r.InsertionListGC) == fx.N_ACCESSORY
    assert all(v > 69 for v in r.InsertionListGC)
    assert len(r.InsertionListCAI) == fx.N_ACCESSORY
    # Cluster list covers the WHOLE path incl. both anchors (the
    # reference's CALL subquery unwinds nodes(path), RGPs.ipynb:467-472).
    assert r.InsertionListClusterID == (
        [fx.ANCHOR_A] + [f"ACC_{k}" for k in range(1, fx.N_ACCESSORY + 1)] + [fx.ANCHOR_B]
    )
    assert r.InsertionListMobileNames == ["putative phage integrase"]
    assert r.InsertionNbTRNAs == 1


def test_no_rgp_without_mobile_gene(pangenome):
    # Strip mobile names -> the any(...integrase...) predicate kills all
    # paths.
    import dataclasses

    g2 = dataclasses.replace(
        pangenome,
        features=pangenome.features.withColumn(
            "name", F.regexp_replace("name", "integrase|transposase", "x")
        ),
    )
    assert find_rgps(g2).count() == 0


def test_hop_bounds(pangenome, monkeypatch):
    # MIN_HOPS above the planted gap (7 relationships) -> nothing.
    monkeypatch.setattr(rgp, "MIN_HOPS", 8)
    assert find_rgps(pangenome).count() == 0
    # MAX_HOPS below it -> nothing.
    monkeypatch.undo()
    monkeypatch.setattr(rgp, "MAX_HOPS", 6)
    assert find_rgps(pangenome).count() == 0
