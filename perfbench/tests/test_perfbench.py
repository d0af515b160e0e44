"""Tests of the benchmark itself: input determinism, planted truth,
span arithmetic and metric names.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import textwrap

import pytest

from perfbench import gen_graph, gen_registry, hostspeed, run
from perfbench.trace import Span, Tracer, self_times
from perfbench.workloads import WARMUP_SPEC as SMALL
from perfbench.workloads import WORKLOADS, GraphWorkload

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_same_seed_same_graph_inputs():
    a, b = gen_graph.generate(7, SMALL), gen_graph.generate(7, SMALL)
    assert a.feature_nodes.equals(b.feature_nodes)
    assert a.cluster_nodes.equals(b.cluster_nodes)
    assert a.composition.equals(b.composition)
    assert a.truth == b.truth
    assert not gen_graph.generate(8, SMALL).composition.equals(a.composition)


def test_same_seed_same_registry_inputs():
    a, b = gen_registry.tables(3, 0.001), gen_registry.tables(3, 0.001)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert not gen_registry.tables(4, 0.001)["lineitem"].equals(a["lineitem"])


def test_planted_truth_is_consistent():
    g = gen_graph.generate(5, SMALL)
    t = g.truth
    assert t["counts"]["features"] == g.feature_nodes.num_rows
    assert t["counts"]["feature_neighbour"] == t["counts"]["features"] - SMALL.n_strains
    assert t["rgp"], "no RGP planted"
    assert all(r["InsertionListMobileNames"] == ["site-specific integrase"] for r in t["rgp"])
    for flags in t["gi"].values():
        assert any(flags["gc_dev_run"]) and not all(flags["gc_dev_run"])


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 3.0, parent=0),
        Span("b", 2.0, 5.0, parent=0),   # overlaps a
        Span("c", 8.0, 12.0, parent=0),  # runs past its parent
        Span("d", 1.5, 2.5, parent=1),   # grandchild: only a's concern
    ]
    assert self_times(spans) == pytest.approx([4.0, 1.0, 3.0, 4.0, 1.0])


def test_tracer_links_parent_and_op():
    tr = Tracer()
    with tr.span("op", op=3):
        with tr.span("inner"):
            pass
    op, inner = tr.spans
    assert inner.parent == 0 and inner.op == 3
    assert op.start <= inner.start <= inner.end <= op.end


def test_host_speed_scaling():
    host = hostspeed.HostSpeed(2)
    try:
        wall, cpu = host.sample()
    finally:
        host.close()
    assert wall > 0 and cpu > 0 and host.samples == [(wall, cpu)]
    # A host twice as slow as the reference halves the reported time.
    assert hostspeed.at_ref(10.0, 2 * hostspeed.REF_S) == pytest.approx(5.0)
    assert hostspeed.cpu_at_ref(10.0, hostspeed.REF_CPU_S) == pytest.approx(10.0)


def test_every_name_is_well_formed_and_declared():
    with open(os.path.join(run.REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    layer = run.layer_metrics([])
    declared = [m["name"] for m in bench["per_layer"]]
    assert sorted(declared) == sorted(layer)
    names = [*layer, *(m["name"] for m in bench["end_to_end"]), *WORKLOADS]
    names += [w["name"] for w in bench["workloads"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names), names
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        n: run.UNITS[n.rsplit(".", 1)[1]] for n in layer
    }


@pytest.fixture(scope="module")
def spark():
    run.pin_environment()
    from pangenomesasgraphdatabases_spark.session import get_spark

    s = get_spark("perfbench-test", cpus=2)
    yield s
    s.stop()


def test_end_all_waits_for_orphans_and_stubborn_children(tmp_path):
    # A child that ignores SIGTERM, and a grandchild orphaned by its
    # parent's exit: neither may outlive end_all.
    script = textwrap.dedent("""
        import os, subprocess, sys, time
        from perfbench import children
        children.GRACE_S = (0.5, 0.5)
        children.become_subreaper()
        stubborn = subprocess.Popen(["sh", "-c", "trap '' TERM; sleep 60"])
        subprocess.run(["sh", "-c", "sleep 60 & echo $!"], stdout=open("orphan", "w"))
        time.sleep(0.2)
        children.end_all()
        orphan = int(open("orphan").read())
        print(os.path.exists(f"/proc/{stubborn.pid}"), os.path.exists(f"/proc/{orphan}"))
    """)
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run([sys.executable, "-c", script], env=dict(os.environ, PYTHONPATH=repo),
                         cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["False", "False"]


def test_jit_time_is_read_and_grows(spark):
    from perfbench.probes import jit_s

    before = jit_s(spark)
    spark.range(10_000).selectExpr("sum(id * 7 % 13)").collect()
    assert jit_s(spark) >= before > 0


def test_planted_truth_matches_fixture_scale_build(spark, tmp_path):
    wl = GraphWorkload(str(tmp_path), 5, Tracer(), spec=SMALL)
    wl.prepare()
    wl.load(spark)
    try:
        wl.check(wl.op(wl.warmup_ops))  # GI flags and RGP rows of the seed's graph
        wl.check_counts()   # feature, edge and cluster counts
    finally:
        wl.close()
