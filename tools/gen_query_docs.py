"""Generate docs/QUERIES.md from the query registry (name, operator
tags, oracle coverage, docstring summary)."""

from __future__ import annotations

import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pangenomesasgraphdatabases_spark.queries.registry import all_queries


def main() -> None:
    out = ["# QUERIES — registered operator queries\n"]
    out.append(
        "Auto-generated by tools/gen_query_docs.py. *Oracle* = DuckDB\n"
        "oracle SQL registered (driver hash-compare at sf=0.01);\n"
        "*rows-only* = non-SQL-expressible, weaker check.\n"
    )
    out.append("| # | query | SURVEY ids / tags | check | summary |")
    out.append("|---|---|---|---|---|")
    for i, (name, q) in enumerate(sorted(all_queries().items()), 1):
        doc = (q.fn.__doc__ or "").strip().split("\n")[0]
        check = "oracle" if q.oracle else "rows-only"
        tags = ", ".join(q.tags)
        out.append(f"| {i} | `{name}` | {tags} | {check} | {doc} |")
    path = REPO / "docs"
    path.mkdir(exist_ok=True)
    (path / "QUERIES.md").write_text("\n".join(out) + "\n")
    n = len(all_queries())
    n_oracle = sum(1 for q in all_queries().values() if q.oracle)
    print(f"wrote docs/QUERIES.md: {n} queries, {n_oracle} with oracle")


if __name__ == "__main__":
    main()
