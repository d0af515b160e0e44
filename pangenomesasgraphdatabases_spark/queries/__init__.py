"""Registered queries, one module per family.

``registry.all_queries()`` returns them in registration order, which is
the import order of ``_load_all`` below: ``flagship`` first, so
``gi_scan_flagship`` is always the first query.
"""

from __future__ import annotations

_LOADED = False


def _load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    # Imports are for registration side effects.
    from pangenomesasgraphdatabases_spark.queries import (  # noqa: F401
        flagship,
        relational,
        windows_q,
        functions_q,
        similarity_q,
        text_q,
        vectors_q,
        events_q,
        graph_q,
        analytics_q,
        sources_q,
        sql_surface_q,
        curation_q,
        pipeline_q,
        graph_algo_q,
        emb_stats_q,
    )

    _LOADED = True
