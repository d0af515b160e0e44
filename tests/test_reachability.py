"""Reachability census: every top-level function and class of the package
(and every method of one) is reachable by name from a root.  Stdlib ast."""

from __future__ import annotations

import ast
import glob
import os
from pathlib import Path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pangenomesasgraphdatabases_spark"

# Paper steps no registered query or script calls yet (definition
# name, reference step).
ROOTS = (
    ("genbank_to_gff", "S8: bp_genbank2gff3.pl"),
    ("clean_genbank", "S8-S9: bp_genbank2gff3.pl, then convert_refseq_to_prokka_gff.py"),
    ("clean_gff", "S9: convert_refseq_to_prokka_gff.py"),
    ("write_gff3", "S9: the cleaned GFF3 file"),
    ("write_fasta", "S12: the BLAST query FASTA"),
    ("write_csv", "S6 and S16: CSV interchange and iTOL sinks"),
    ("tree_distance_table", "S10/F18: phylogenetic distances, RGPs.ipynb:1618"),
    ("reconstruct_full_sequences", "extendingDB_FeatureAndStrainMetrics.py F7"),
    ("composition_metrics", "extendingDB_FeatureAndStrainMetrics.py F8-F9"),
    ("enrich_features_with_composition", "extendingDB_FeatureAndStrainMetrics.py writeback"),
    ("insertion_ttests", "RGPs.ipynb cell 19"),
    ("insertion_dice_similarity", "RGPs.ipynb cells 70-88"),
    ("core_clusters_per_group", "RGPs.ipynb cells 107-114"),
    ("anchor_pair_distance_stats", "RGPs.ipynb cells 47-67"),
    ("to_spark", "the fixture graph the tests build"),
    ("write_raw_pirate_dir", "fixtures_data/pirate_raw, the PIRATE output fixture"),
    ("save_bucketed_tables", "co-located saved graph, ROADMAP direction 2"),
)
# Plain-python references the tests check Spark results against.
TEST_REFERENCES = (
    ("_banded_sw", "banded Smith-Waterman reference for seed_align"),
    ("_xdrop_extend", "x-drop extension reference for seed_align"),
    ("hilbert_d_py", "Hilbert index reference for lineitem_hilbert_layout"),
    ("emb_cosine_near_dup_exact", "exact reference for the LSH near-dup query"),
)
# Scripts whose every name counts as used.
SCRIPTS = ("bench.py", "__spark_entry__.py", "tools/*.py", "perfbench/**/*.py")


def _names(*nodes) -> set:
    """Identifiers, attributes, imported names and strings (getattr)."""
    out = set()
    for n in (sub for node in nodes for sub in ast.walk(node)):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def test_every_package_definition_is_reachable():
    defs, methods, used = {}, {}, set()
    for path in sorted(glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, os.path.join(REPO, PKG)).replace(os.sep, "/")
        for node in ast.parse(Path(path).read_text(encoding="utf-8")).body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                used |= _names(node)  # module-level code runs at import
                continue
            defs[f"{rel}:{node.name}"] = node
            deco = _names(*node.decorator_list)  # decorators run at import
            used |= deco
            if node.name in dict(ROOTS) or node.name in dict(TEST_REFERENCES) or "register" in deco:
                used.add(node.name)
            if isinstance(node, ast.ClassDef):
                used |= _names(*node.bases)
                for m in node.body:
                    if isinstance(m, ast.FunctionDef) and not m.name.startswith("__"):
                        methods[f"{rel}:{node.name}.{m.name}"] = m
    stale = sorted({name for name, _ in ROOTS} - {n.name for n in defs.values()})
    assert not stale, f"ROOTS names no package definition: {stale}"
    for pattern in SCRIPTS:
        for path in glob.glob(os.path.join(REPO, pattern), recursive=True):
            used |= _names(ast.parse(Path(path).read_text(encoding="utf-8")))
    reached = set()
    while new := {k for k, n in defs.items() if n.name in used} - reached:
        reached |= new  # a reached definition uses every name in its body
        used |= _names(*(defs[k] for k in new))
    unreached = sorted(set(defs) - reached) + sorted(
        k for k, m in methods.items() if k.rsplit(".", 1)[0] in reached and m.name not in used
    )
    assert not unreached, "unreachable definitions:\n" + "\n".join(unreached)
