"""Spans around the calls into each layer, installed by wrapping the
library's functions from outside. Nothing in the library is edited.

Each name is wrapped where its caller looks it up: ``store/query.py``
binds ``parse``, ``apply_filter`` and the planner functions at import,
``store/documents.py`` binds ``parse``, ``evaluate`` and
``write_bucket_file``, so those module attributes are wrapped too.

Spans are kept in memory; ``dump`` writes them out when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
from typing import Any, Callable, Optional


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = 0
        self._lock = threading.Lock()
        self._undo: list[tuple[Any, str, Any]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, **attrs) -> dict:
        st = self._stack()
        with self._lock:
            self._ids += 1
            sid = self._ids
        span = {
            "id": sid,
            "parent": st[-1]["id"] if st else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        st.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        with self._lock:
            self.spans.append(span)

    # -- wrapping ------------------------------------------------------------

    def wrap(self, owner: Any, attr: str, name: str,
             on_call: Optional[Callable[[dict, tuple, dict, Any], None]] = None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span
        around each call; ``on_call(span, args, kwargs, result)`` may add
        counts to the span. ``unwrap_all`` restores the original."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            s = tracer.open(name)
            try:
                result = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(s, args, kwargs, result)
                return result
            finally:
                tracer.close(s)

        wrapper.__wrapped__ = orig
        # an inherited (or bound-method) attribute is removed again on
        # unwrap rather than shadowed by a copy
        own = vars(owner).get(attr) if attr in vars(owner) else None
        self._undo.append((owner, attr, own))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, own = self._undo.pop()
            if own is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, own)

    def install(self, spark=None) -> None:
        """Wrap every layer boundary the per-layer metrics read."""
        from hyper_storage_spark import rest
        from hyper_storage_spark.plans import field_filters
        from hyper_storage_spark.store import documents, query, storage
        from hyper_storage_spark.streaming import ingest

        self.wrap(rest.RestFacade, "handle", "rest.handle")
        DS = documents.DocumentStore
        for m in ("get", "put_txn", "patch_txn", "delete_txn", "query", "query_paged",
                  "vacuum", "compact_appends", "create_index", "ingest_collection",
                  "merge_collection", "write_batch"):
            self.wrap(DS, m, f"documents.{m}", _count_result if m == "vacuum" else None)
        self.wrap(storage.Storage, "bucket_rows", "storage.bucket_rows", _count_rows)
        self.wrap(storage.Storage, "commit", "storage.commit", _count_commit)
        self.wrap(storage.Storage, "append", "storage.append", _count_append)
        self.wrap(storage.Storage, "_cas_write_manifest", "storage.flip")
        for mod in (storage, documents):
            self.wrap(mod, "write_bucket_file", "storage.write_bucket_file", _count_bucket_file)
        for fn in ("weigh_index", "extract_index_sort_fields", "least_rows_filter_fields",
                   "merge_least_query_filter_fields"):
            self.wrap(query, fn, "plans." + fn)
        self.wrap(field_filters.FieldFiltersExtractor, "extract", "plans.extract_field_filters")
        self.wrap(query, "parse", "expression.parse")
        self.wrap(query, "apply_filter", "expression.compile")
        self.wrap(query, "evaluate", "expression.evaluate")
        self.wrap(documents, "parse", "expression.parse")
        self.wrap(documents, "evaluate", "expression.evaluate")
        self.wrap(ingest, "apply_commands_distributed", "ingest.batch")

        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        self.wrap(DataFrame, "collect", "spark.collect", _count_rows)
        self.wrap(DataFrameWriter, "save", "spark.save")
        if spark is not None:
            client = spark.sparkContext._gateway._gateway_client
            self.wrap(client, "send_command", "py4j.send_command")

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _count_rows(span, args, kwargs, result) -> None:
    span["rows"] = len(result)


def _count_result(span, args, kwargs, result) -> None:
    span["n"] = int(result)


def _count_commit(span, args, kwargs, result) -> None:
    appends = kwargs.get("appends") or (args[5] if len(args) > 5 else None) or {}
    span["files"] = len(appends)
    span["rows"] = sum(len(rows) for rows, _schema in appends.values())


def _count_append(span, args, kwargs, result) -> None:
    rows = args[2] if len(args) > 2 else kwargs["rows"]
    span["files"] = 1
    span["rows"] = len(rows)


def _count_bucket_file(span, args, kwargs, result) -> None:
    rows = args[0] if args else kwargs["rows"]
    path = args[2] if len(args) > 2 else kwargs["abspath"]
    span["files"] = 1
    span["rows"] = len(rows)
    span["index"] = "/index_" in path.replace("\\", "/")


class SpanIndex:
    """Spans grouped under the op span (name ``op``) that caused them."""

    def __init__(self, spans: list[dict]):
        from stats import self_times

        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.self_s = self_times(spans)
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)
        self.root: dict[int, Optional[dict]] = {}
        for s in sorted(spans, key=lambda s: s["id"]):
            p = s["parent"]
            if s["name"] == "op":
                self.root[s["id"]] = s
            else:
                self.root[s["id"]] = self.root.get(p) if p is not None else None

    def ops(self, *kinds: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == "op" and s["kind"] in kinds]

    def under(self, ops: list[dict], name_prefix: str) -> list[dict]:
        """Spans whose name starts with ``name_prefix`` that the given
        op spans caused."""
        ids = {s["id"] for s in ops}
        return [
            s for s in self.spans
            if s["name"].startswith(name_prefix)
            and (r := self.root.get(s["id"])) is not None and r["id"] in ids
        ]


    def time_outside(self, span: dict, name_prefix: str) -> float:
        """Duration of ``span`` minus the part of it covered by spans
        below it, at any depth, whose name starts with ``name_prefix``."""
        from stats import covered

        found, todo = [], list(self.children.get(span["id"], []))
        while todo:
            s = todo.pop()
            if s["name"].startswith(name_prefix):
                found.append((s["start"], s["end"]))
            else:
                todo.extend(self.children.get(s["id"], []))
        return (span["end"] - span["start"]) - covered(found, span["start"], span["end"])


# span-cost measurement: calls per timing, and timings alternated
COST_CALLS = 20_000
COST_REPEATS = 5


def span_cost_s() -> float:
    """Seconds one traced call adds over the bare call: COST_CALLS calls
    of a no-op through a Tracer wrapper against COST_CALLS bare calls,
    alternated COST_REPEATS times in this process; the median of the
    per-call differences."""
    import statistics

    class Target:
        @staticmethod
        def noop():
            return None

    bare = Target.noop
    tracer = Tracer()
    tracer.wrap(Target, "noop", "noop")
    wrapped = Target.noop
    diffs = []
    for _ in range(COST_REPEATS):
        t = time.perf_counter()
        for _ in range(COST_CALLS):
            bare()
        t_bare = time.perf_counter() - t
        t = time.perf_counter()
        for _ in range(COST_CALLS):
            wrapped()
        t_wrapped = time.perf_counter() - t
        tracer.spans.clear()
        diffs.append((t_wrapped - t_bare) / COST_CALLS)
    tracer.unwrap_all()
    return max(statistics.median(diffs), 0.0)


def per_op(total: float, n: int) -> float:
    return total / n if n else 0.0


def dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)
