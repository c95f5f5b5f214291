"""The query registry: every query declared once, beside its oracle SQL.

Each family module declares its queries with :func:`shared.query`: the
builder as a top-level function, its DuckDB oracle SQL and its decimal
output columns side by side. Importing this package imports the families
in the order below, which is the declaration order of ``DECLARED``;
``__spark_entry__`` builds the driver contract from it.
"""

from data_warehouse_punta_fina_spark.registry import (  # noqa: F401 — importing declares
    star,
    olap,
    events,
    stats,
    text,
    dedup,
    retrieval,
    vectors,
    graph,
    curation,
)
from data_warehouse_punta_fina_spark.registry.shared import DECLARED  # noqa: F401
