"""The python blocks of docs/MIGRATION.md import names that exist: a
deleted or renamed package definition fails here, not in a reader's
session."""

from __future__ import annotations

import ast
import importlib
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pangenomesasgraphdatabases_spark"


def test_migration_imports_resolve():
    with open(os.path.join(REPO, "docs", "MIGRATION.md"), encoding="utf-8") as f:
        blocks = re.findall(r"```python\n(.*?)```", f.read(), re.S)
    assert blocks
    missing, checked = [], 0
    for block in blocks:
        for node in ast.walk(ast.parse(block)):
            if not (isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG)):
                continue
            module = importlib.import_module(node.module)
            for alias in node.names:
                checked += 1
                if not hasattr(module, alias.name):
                    missing.append(f"{node.module}.{alias.name}")
    assert checked
    assert not missing, "docs/MIGRATION.md imports missing names:\n" + "\n".join(missing)
