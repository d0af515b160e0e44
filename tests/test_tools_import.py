"""Every script under tools/ must import cleanly without running its
``main``: a tool that imports a name bench.py no longer has fails here,
not at the next time someone runs it."""

from __future__ import annotations

import glob
import importlib.util
import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports(path, monkeypatch):
    # Arguments belong to main(): importing reads none of them.
    monkeypatch.setattr(sys, "argv", [path])
    name = "tool_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None)), f"{path} has no main()"


def test_no_hardcoded_checkout_path():
    # A literal checkout path makes a copy of the repo elsewhere import
    # (or read the fixtures of) the original tree; derive it from __file__.
    literal = re.compile(r"""["']""" + re.escape(REPO) + r"""["'/]""")
    package = os.path.join(REPO, "pangenomesasgraphdatabases_spark", "**", "*.py")
    scripts = (
        TOOLS
        + sorted(glob.glob(os.path.join(REPO, "tests", "*.py")))
        + sorted(glob.glob(package, recursive=True))
    )
    offenders = []
    for path in scripts:
        with open(path, encoding="utf-8") as f:
            if literal.search(f.read()):
                offenders.append(os.path.relpath(path, REPO))
    assert not offenders, offenders
