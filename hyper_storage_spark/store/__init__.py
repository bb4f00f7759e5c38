"""The document store: the reference's Cassandra data model re-expressed
as bucketed parquet datasets with an atomic manifest (a minimal
Delta-style commit protocol), plus the CRUD/indexing/query engine on top.

- :mod:`storage` — physical layer: hash-bucketed parquet + manifest.
- :mod:`merge` — merge-patch + null-stripping body semantics.
- :mod:`idgen` — time-ordered unique ids for POST auto-id.
- :mod:`documents` — DocumentStore: CRUD, revisions, feed events (the
  transaction log), index lifecycle + incremental maintenance.
- :mod:`query` — the collection query planner/executor on Spark.
- :mod:`stats` — ANALYZE + histogram/NDV row estimates for explain
  (a reference future-work item).
"""

from .documents import DocumentStore, IndexAlreadyExists, NotFoundError
from .query import QueryBudgetExceeded, QueryResult
from .stats import FieldStats, analyze_collection, collection_stats, estimate_rows

__all__ = [
    "DocumentStore",
    "IndexAlreadyExists",
    "NotFoundError",
    "QueryResult",
    "QueryBudgetExceeded",
    "FieldStats",
    "analyze_collection",
    "collection_stats",
    "estimate_rows",
]
