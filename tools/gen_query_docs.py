"""Generate docs/QUERIES.md from the query registry (name, operator
tags, docstring summary)."""

from __future__ import annotations

import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pangenomesasgraphdatabases_spark.queries.registry import all_queries


def main() -> None:
    out = ["# QUERIES — registered operator queries\n"]
    out.append(
        "Auto-generated by tools/gen_query_docs.py. Every query has a\n"
        "DuckDB oracle SQL twin (driver hash-compare at sf=0.01).\n"
    )
    out.append("| # | query | SURVEY ids / tags | summary |")
    out.append("|---|---|---|---|")
    queries = all_queries()
    for i, (name, q) in enumerate(sorted(queries.items()), 1):
        doc = (q.fn.__doc__ or "").strip().split("\n")[0]
        tags = ", ".join(q.tags)
        out.append(f"| {i} | `{name}` | {tags} | {doc} |")
    path = REPO / "docs"
    path.mkdir(exist_ok=True)
    (path / "QUERIES.md").write_text("\n".join(out) + "\n")
    print(f"wrote docs/QUERIES.md: {len(queries)} queries")


if __name__ == "__main__":
    main()
