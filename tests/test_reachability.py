"""Package censuses, stdlib ast: every top-level function and class of
the package (and every method of one) is reachable by name from a root;
every defaulted parameter is set by some call outside the tests; every
import is used."""

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
)
# Plain-python references the tests check Spark results against.
TEST_REFERENCES = (
    ("_banded_sw", "banded Smith-Waterman reference for seed_align"),
    ("_xdrop_extend", "x-drop extension reference for seed_align"),
    ("hilbert_d_py", "Hilbert index reference for lineitem_hilbert_layout"),
    ("emb_cosine_near_dup_exact", "exact reference for the LSH near-dup query"),
)
# Options only tests set, each to build an input the decoders must read.
TEST_INPUTS = (
    ("encode_jpeg(restart_interval)", "restart markers for the JPEG decoder"),
    ("encode_png_palette(depth)", "palettes of fewer than 8 bits per pixel for the PNG decoder"),
    ("build_ogg_page(continued)", "a packet continued across Ogg pages"),
    ("build_ogg_page(open_ended)", "a packet left open at an Ogg page end"),
)
# Scripts whose every name counts as used.
SCRIPTS = ("bench.py", "__spark_entry__.py", "tools/*.py", "perfbench/**/*.py")
PACKAGE = (f"{PKG}/**/*.py",)
TESTS = ("tests/**/*.py",)


def _files(*patterns) -> list:
    return sorted(p for pat in patterns for p in glob.glob(os.path.join(REPO, pat), recursive=True))


def _parse(path: str) -> ast.Module:
    return ast.parse(Path(path).read_text(encoding="utf-8"))


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
    for path in _files(*PACKAGE):
        rel = os.path.relpath(path, os.path.join(REPO, PKG)).replace(os.sep, "/")
        for node in _parse(path).body:
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
    for path in _files(*SCRIPTS):
        used |= _names(_parse(path))
    reached = set()
    while new := {k for k, n in defs.items() if n.name in used} - reached:
        reached |= new  # a reached definition uses every name in its body
        used |= _names(*(defs[k] for k in new))
    unreached = sorted(set(defs) - reached) + sorted(
        k for k, m in methods.items() if k.rsplit(".", 1)[0] in reached and m.name not in used
    )
    assert not unreached, "unreachable definitions:\n" + "\n".join(unreached)


def _defaulted(fn: ast.FunctionDef, method: bool) -> list:
    """(name, index) of each defaulted parameter: the index counts the
    positional arguments a call passes before it (a bound method's
    call leaves self out), None for a keyword-only one."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    return [(p.arg, i - method) for i, p in enumerate(pos) if i >= first] + [
        (p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _callee(f) -> str | None:
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def test_every_option_is_set_by_some_call():
    """A defaulted parameter that no call outside tests/ sets is a
    constant with an option's cost: every caller and benchmark runs its
    one value, and a test that needs another monkeypatches a module
    constant instead. Paper steps in ROOTS await their callers, and
    the TEST_INPUTS options build decoder inputs; both are exempt."""
    options = []
    for path in _files(*PACKAGE):
        rel = os.path.relpath(path, os.path.join(REPO, PKG)).replace(os.sep, "/")
        for node in _parse(path).body:
            if isinstance(node, ast.FunctionDef):
                fns = [(node, False)]
            elif isinstance(node, ast.ClassDef):
                fns = [(m, True) for m in node.body if isinstance(m, ast.FunctionDef)]
            else:
                continue
            for fn, method in fns:
                if fn.name not in dict(ROOTS):
                    options += [
                        (rel, fn.name, p, i)
                        for p, i in _defaulted(fn, method)
                        if f"{fn.name}({p})" not in dict(TEST_INPUTS)
                    ]
    # Per callee name: the keywords its calls pass and how many
    # positional arguments each passes; "*" when a call unpacks
    # *args or **kwargs, which may set anything.
    sets: dict = {}
    for path in _files(*PACKAGE, *SCRIPTS):
        tree = _parse(path)
        # `x = a` and `x = a if c else b`: a call of x calls a or b.
        aliases: dict = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.Assign) and len(n.targets) == 1 and isinstance(n.targets[0], ast.Name):
                v = n.value
                picks = (v.body, v.orelse) if isinstance(v, ast.IfExp) else (v,)
                if all(isinstance(x, (ast.Name, ast.Attribute)) for x in picks):
                    aliases.setdefault(n.targets[0].id, set()).update(map(_callee, picks))
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            name = _callee(call.func)
            for callee in {name} | aliases.get(name, set()):
                s = sets.setdefault(callee, set())
                if any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords
                ):
                    s.add("*")
                s |= {k.arg for k in call.keywords} | {len(call.args)}
    unset = []
    for rel, fn, p, i in options:
        s = sets.get(fn, set())
        by_position = i is not None and any(isinstance(n, int) and n > i for n in s)
        if not (s & {"*", p} or by_position):
            unset.append(f"{rel}:{fn}({p})")
    assert not unset, "defaulted parameters no call sets:\n" + "\n".join(unset)


def test_every_import_is_used():
    """An import kept for its side effect says so with `# noqa: F401`
    (queries/__init__.py's registering imports)."""
    unused = []
    for path in _files(*PACKAGE, *SCRIPTS, *TESTS):
        text = Path(path).read_text(encoding="utf-8")
        tree, lines = ast.parse(text), text.splitlines()
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(node, "module", None) == "__future__" or "noqa: F401" in lines[node.lineno - 1]:
                continue
            for alias in node.names:
                bound = alias.asname or alias.name.split(".")[0]
                if bound not in used:
                    rel = os.path.relpath(path, REPO).replace(os.sep, "/")
                    unused.append(f"{rel}:{node.lineno}: {bound}")
    assert not unused, "unused imports:\n" + "\n".join(unused)
