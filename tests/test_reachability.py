"""Reachability census: every top-level function and class of the package
(and every method of one) is reachable by name from a root.  Stdlib ast."""

from __future__ import annotations

import ast
import glob
import os
from pathlib import Path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pangenomesasgraphdatabases_spark"

# Modules kept whole as API (path prefix under the package, reason).
ROOT_MODULES = (
    ("sources/", "paper-pipeline readers and writers, docs/MIGRATION.md API"),
    ("functions/", "paper-pipeline column functions, docs/MIGRATION.md API"),
    ("graph/enrich.py", "paper-pipeline annotation enrichment, documented API"),
    ("graph/rgp_analysis.py", "paper-pipeline RGP notebook analyses"),
    ("graph/fixtures.py", "the deterministic graph fixture the tests build"),
    ("graph/storage.py", "save_bucketed_tables/compact_parquet, docs/SCALE.md"),
    ("streaming/", "streaming sources and stateful operators, docs/SCALE.md"),
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
        is_root = rel.startswith(tuple(p for p, _ in ROOT_MODULES))
        for node in ast.parse(Path(path).read_text(encoding="utf-8")).body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                used |= _names(node)  # module-level code runs at import
                continue
            defs[f"{rel}:{node.name}"] = node
            deco = _names(*node.decorator_list)  # decorators run at import
            used |= deco
            if is_root or node.name in dict(TEST_REFERENCES) or "register" in deco:
                used.add(node.name)
            if isinstance(node, ast.ClassDef) and not is_root:
                used |= _names(*node.bases)
                for m in node.body:  # root-module methods are framework hooks
                    if isinstance(m, ast.FunctionDef) and not m.name.startswith("__"):
                        methods[f"{rel}:{node.name}.{m.name}"] = m
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
