"""REST façade over the document store — the reference's front door
re-expressed as a library surface.

The reference exposes the store through hyperbus HTTP routes
(HyperbusAdapter.scala: get/put/patch/delete/post + collection query);
this module maps the same verb/path/params surface onto
:class:`~hyper_storage_spark.store.DocumentStore` calls and returns
(status, body, headers) triples with the reference's semantics:

- ``GET doc`` → 200 + body + ``revision`` header; missing → 404
- ``GET collection~`` → 200 + HAL (``_embedded.els``) + collection
  revision; query params ``filter`` (expression DSL), ``sort``
  (``a,-b`` = a asc, b desc), ``size``, ``paged`` (keyset fetch loop)
- ``PUT`` → 201 on create / 200 on replace, new revision header
- ``POST collection~`` → 201 + generated item id + ``location``
- ``PATCH`` → 200 merge-patch (null deletes fields); missing → 404
- ``DELETE`` → 200 tombstone; missing → 404
- invalid path / non-collection query → 400; skipped-row budget
  exhausted → 416 (the fetch-loop guardrail, QueryBudgetExceeded)
- conditional requests on the revision header (the reference's
  optimistic-concurrency surface; its 412 responses ride the same
  hyperbus error channel): ``if_match`` on PUT/PATCH/DELETE compares
  against the document's current revision — mismatch (or a missing
  resource) → 412 Precondition Failed, with the current revision in
  the response headers when the resource exists; ``if_match="*"``
  requires bare existence. ``if_none_match="*"`` on PUT makes the
  write create-only. ``if_none_match`` on GET returns 304 Not
  Modified when the revision still matches. The precondition check
  and the write run under the store's writer lock, so a concurrent
  writer cannot slip between check and apply.

This is a thin adapter by design: every semantic lives in the store /
planner; the façade only translates verbs, params, and errors.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from .plans import SortBy
from .store import DocumentStore, IndexAlreadyExists, NotFoundError, QueryBudgetExceeded
from .store.storage import ManifestConflict


@dataclass
class RestResponse:
    status: int
    body: Any = None
    headers: dict[str, str] = field(default_factory=dict)


def parse_sort(sort: Optional[str]) -> list[SortBy]:
    """``"a,-b"`` → [SortBy(a), SortBy(b, descending=True)]."""
    if not sort:
        return []
    out = []
    for part in sort.split(","):
        part = part.strip()
        if not part:
            continue
        if part.startswith("-"):
            out.append(SortBy(part[1:], descending=True))
        else:
            out.append(SortBy(part))
    return out


class PreconditionFailed(Exception):
    def __init__(self, message: str, revision: Optional[int] = None):
        super().__init__(message)
        self.revision = revision


class RestFacade:
    def __init__(self, store: DocumentStore, streams: Optional[dict[str, str]] = None):
        """``streams`` registers foreachBatch state dirs for the
        ``_streams`` read-back routes (r12, VERDICT item 8): logical
        name → state root. The reference serves everything over HTTP;
        the store's streaming state (corpus stats, heavy hitters,
        expectations, quarantine) was the one surface REST did not
        reach. Registration at construction — not a raw path in the
        URL — keeps the HTTP surface from becoming a filesystem
        browser."""
        self.store = store
        self.streams = dict(streams or {})

    # -- conditional requests (reference's revision-header concurrency) ------

    def _revision_of(self, path: str) -> Optional[int]:
        """Current revision governing ``path`` (the shared per-document
        counter — the same value every response's ``revision`` header
        carries), or None when the resource doesn't exist. Items check
        both their own row and the document tombstone, matching GET."""
        from .paths import split_path

        rp = split_path(path)
        static = self.store._get_static(rp.document_uri)
        if static is None or static["is_deleted"]:
            return None
        if rp.item_id:
            row = self.store._get_content(rp.document_uri, rp.item_id)
            if row is None or row["is_deleted"]:
                return None
        return static["revision"]

    def _check_preconditions(
        self, path: str, if_match: Optional[str], if_none_match: Optional[str]
    ) -> None:
        current = self._revision_of(path)
        if if_match is not None:
            if current is None:
                raise PreconditionFailed(f"{path!r} does not exist")
            if if_match != "*" and str(current) != str(if_match).strip():
                raise PreconditionFailed(
                    f"revision is {current}, not {if_match}", current
                )
        if if_none_match is not None:
            if if_none_match == "*":
                if current is not None:
                    raise PreconditionFailed(f"{path!r} already exists", current)
            elif current is not None and str(current) == str(if_none_match).strip():
                raise PreconditionFailed(f"revision is still {current}", current)

    @staticmethod
    def _precondition_response(e: PreconditionFailed) -> RestResponse:
        headers = {"revision": str(e.revision)} if e.revision is not None else {}
        return RestResponse(412, {"error": f"precondition failed: {e}"}, headers)

    # -- verb handlers -------------------------------------------------------

    def get(
        self,
        path: str,
        filter: Optional[str] = None,
        sort: Optional[str] = None,
        size: Optional[int] = None,
        paged: bool = False,
        if_none_match: Optional[str] = None,
        at_version: Optional[int] = None,
    ) -> RestResponse:
        if at_version is not None:
            # time-travel read: same verb surface against the pinned
            # snapshot (404/400 semantics unchanged); unknown/expired
            # versions are a client error, listed for discoverability
            try:
                facade = RestFacade(self.store.at_version(int(at_version)))
            except (ValueError, TypeError) as e:
                return RestResponse(400, {"error": str(e)})
            return facade.get(
                path, filter=filter, sort=sort, size=size, paged=paged,
                if_none_match=if_none_match,
            )
        try:
            if path.endswith("~"):
                kwargs: dict[str, Any] = {
                    "filter": filter,
                    "sort": parse_sort(sort),
                }
                if size is not None:
                    kwargs["size"] = size
                res = (
                    self.store.query_paged(path, **kwargs)
                    if paged
                    else self.store.query(path, **kwargs)
                )
                if self._not_modified(res.revision, if_none_match):
                    return RestResponse(304, None, {"revision": str(res.revision)})
                return RestResponse(200, res.hal(), {"revision": str(res.revision)})
            if filter is not None or sort is not None or size is not None or paged:
                # query params on a non-collection path: answering with
                # the full document would silently pretend the filter
                # was applied — 400, the documented reference semantics
                return RestResponse(
                    400, {"error": f"{path!r} is not a collection URI"}
                )
            body, revision = self.store.get(path)
            if self._not_modified(revision, if_none_match):
                return RestResponse(304, None, {"revision": str(revision)})
            return RestResponse(200, body, {"revision": str(revision)})
        except NotFoundError:
            return RestResponse(404)
        except QueryBudgetExceeded as e:
            return RestResponse(416, {"error": str(e)})
        except ValueError as e:
            return RestResponse(400, {"error": str(e)})

    @staticmethod
    def _not_modified(revision: int, if_none_match: Optional[str]) -> bool:
        if if_none_match is None:
            return False
        return if_none_match == "*" or str(revision) == str(if_none_match).strip()

    def put(
        self,
        path: str,
        body: Any,
        if_match: Optional[str] = None,
        if_none_match: Optional[str] = None,
    ) -> RestResponse:
        try:
            # check + write under the writer lock (RLock — the nested
            # store.put acquisition is fine): a concurrent writer must
            # not bump the revision between precondition and apply
            with self.store._lock:
                self._check_preconditions(path, if_match, if_none_match)
                created, revision, txn_id = self.store.put_txn(path, body)
            # response body is the transaction envelope
            # (hyperstorage.raml:57-68: 201 → HyperStorageTransactionCreated
            # {transactionId, path}, 200 → HyperStorageTransaction) —
            # clients poll GET _transactions/{id} for completion
            body_out: dict[str, Any] = {"transactionId": txn_id}
            if created:
                body_out["path"] = path
            return RestResponse(
                201 if created else 200, body_out, {"revision": str(revision)}
            )
        except PreconditionFailed as e:
            return self._precondition_response(e)
        except ValueError as e:
            return RestResponse(400, {"error": str(e)})

    def post(self, path: str, body: Any) -> RestResponse:
        """POST to a collection: server-generated item id (the
        reference's POST→PUT id-generation, L14)."""
        try:
            item_path, revision, txn_id = self.store.post_txn(path, body)
            return RestResponse(
                201,
                {
                    "id": item_path.rsplit("/", 1)[-1],
                    "transactionId": txn_id,
                    "path": item_path,
                },
                {"revision": str(revision), "location": item_path},
            )
        except ValueError as e:
            return RestResponse(400, {"error": str(e)})

    def patch(self, path: str, body: Any, if_match: Optional[str] = None) -> RestResponse:
        try:
            with self.store._lock:
                self._check_preconditions(path, if_match, None)
                _, revision, txn_id = self.store.patch_txn(path, body)
            return RestResponse(
                200, {"transactionId": txn_id}, {"revision": str(revision)}
            )
        except PreconditionFailed as e:
            return self._precondition_response(e)
        except NotFoundError:
            return RestResponse(404)
        except ManifestConflict as e:
            return RestResponse(409, {"error": f"concurrent write, retry: {e}"})
        except ValueError as e:
            return RestResponse(400, {"error": str(e)})

    def delete(self, path: str, if_match: Optional[str] = None) -> RestResponse:
        try:
            with self.store._lock:
                self._check_preconditions(path, if_match, None)
                revision, txn_id = self.store.delete_txn(path)
            return RestResponse(
                200, {"transactionId": txn_id}, {"revision": str(revision)}
            )
        except PreconditionFailed as e:
            return self._precondition_response(e)
        except NotFoundError:
            return RestResponse(404)
        except ManifestConflict as e:
            return RestResponse(409, {"error": f"concurrent write, retry: {e}"})
        except ValueError as e:
            return RestResponse(400, {"error": str(e)})

    # -- generic dispatch ----------------------------------------------------

    # params each verb accepts; anything else in a request is a client
    # error (400), never a TypeError out of the facade — write verbs used
    # to forward **params blindly, so `?size=` on DELETE crashed dispatch
    _VERB_PARAMS = {
        "GET": frozenset(
            {"filter", "sort", "size", "paged", "if_none_match", "at_version"}
        ),
        "PUT": frozenset({"if_match", "if_none_match"}),
        "POST": frozenset(),
        "PATCH": frozenset({"if_match"}),
        "DELETE": frozenset({"if_match"}),
    }

    # -- rollup MV sub-resource (store/rollups.py through REST) ---------------

    # reserved sub-path on a collection: `<coll>~/_rollups[/<id>]`.
    # The reference has no aggregate surface (SURVEY §2.4); this is the
    # engine-extension face: POST registers+builds (INDEXING→NORMAL),
    # GET lists defs or serves the finalized view (auto-refreshed, the
    # mode returned in the `rollup-refresh` header), DELETE drops.
    _ROLLUPS_SEG = "~/_rollups"

    @staticmethod
    def _bucket_els(rows, key_fields) -> list[dict]:
        """Serialize collected rollup/aggregate view rows. NULL-safe
        numeric conversion throughout: the build keeps a NULL bucket
        for rows whose value failed try_cast — its total/vmin/vmax
        (and the sample quantiles) are NULL, and float(None) would
        raise out of handle() instead of serializing. Shared by the
        per-def rollup GET and the planner _aggregate route so both
        endpoints always serve the same shape for the same MV."""
        fnum = lambda x: float(x) if x is not None else None
        extra = [
            c for c in ("n_distinct", "var_pop", "stddev_pop", "p50", "p95")
            if rows and c in rows[0].__fields__
        ]
        return [
            {
                **{k: r[k] for k in key_fields},
                "bucket_start": str(r["bucket_start"]),
                "n": r["n"],
                "total": fnum(r["total"]),
                "vmin": fnum(r["vmin"]),
                "vmax": fnum(r["vmax"]),
                "avg": r["avg"],
                **{c: fnum(r[c]) if c in ("p50", "p95") else r[c] for c in extra},
            }
            for r in rows
        ]

    def _rollup_route(self, m: str, path: str, body: Any, params: dict) -> RestResponse:
        base, _, rest = path.partition(self._ROLLUPS_SEG)
        uri = base + "~"
        rollup_id = rest.lstrip("/") or None
        try:
            if m == "POST" and rollup_id is None:
                spec = body or {}
                if not isinstance(spec, dict):
                    # malformed body must be a 400, never an
                    # AttributeError escaping handle() (the _indexes_
                    # route's guard, review r12)
                    return RestResponse(400, {"error": "rollup spec must be a JSON object"})
                missing = [k for k in ("ts_field", "key_fields", "value_field", "schema") if not spec.get(k)]
                if missing:
                    return RestResponse(400, {"error": f"missing rollup spec field(s): {', '.join(missing)}"})
                rid = self.store.create_rollup(
                    uri,
                    spec["ts_field"],
                    list(spec["key_fields"]),
                    spec["value_field"],
                    resolution=spec.get("resolution", "day"),
                    schema=spec["schema"],
                    rollup_id=spec.get("rollup_id"),
                    distinct_field=spec.get("distinct_field"),
                    sumsq=bool(spec.get("sumsq")),
                    sample_k=int(spec.get("sample_k") or 0),
                )
                return RestResponse(201, {"rollup_id": rid}, {"location": f"{uri}/_rollups/{rid}"})
            if m == "GET" and rollup_id is None:
                defs = [
                    {
                        "rollup_id": d.rollup_id,
                        "status": d.status,
                        "ts_field": d.ts_field,
                        "key_fields": list(d.key_fields),
                        "value_field": d.value_field,
                        "resolution": d.resolution,
                        "built_revision": d.built_revision,
                    }
                    for d in self.store.rollup_defs(uri)
                ]
                return RestResponse(200, {"_embedded": {"els": defs}})
            if m == "GET":
                d = next((x for x in self.store.rollup_defs(uri) if x.rollup_id == rollup_id), None)
                if d is None:
                    return RestResponse(404)
                mode = self.store.refresh_rollup(uri, rollup_id)
                res = params.get("resolution")
                df = self.store.rollup_view(uri, rollup_id, resolution=res)
                size = int(params.get("size") or 1000)
                order = [*d.key_fields, "bucket_start"]
                rows = df.orderBy(*order).limit(size).collect()
                els = self._bucket_els(rows, d.key_fields)
                return RestResponse(200, {"_embedded": {"els": els}}, {"rollup-refresh": mode})
            if m == "DELETE" and rollup_id is not None:
                self.store.drop_rollup(uri, rollup_id)
                return RestResponse(200)
            return RestResponse(405, {"error": f"{m} not supported on {path!r}"})
        except NotFoundError:
            return RestResponse(404)
        except ManifestConflict as e:
            return RestResponse(409, {"error": f"concurrent write, retry: {e}"})
        except ValueError as e:
            return RestResponse(400, {"error": str(e)})

    # planner-routed aggregate on a collection: GET
    # `<coll>~/_aggregate?ts_field=&key_fields=a,b&value_field=&...` —
    # answers FROM a matching rollup MV when one serves (coarsest
    # grain wins; refreshed per auto_refresh), else a direct base
    # aggregation when `schema` is supplied. The route taken ships in
    # response headers (aggregate-source / rollup-id / rollup-refresh /
    # coarsened) — the REST face of store/rollups.aggregate().
    _AGGREGATE_SEG = "~/_aggregate"

    def _aggregate_route(self, m: str, path: str, params: dict) -> RestResponse:
        if m != "GET":
            return RestResponse(405, {"error": f"{m} not supported on {path!r}"})
        base, _, _rest = path.partition(self._AGGREGATE_SEG)
        uri = base + "~"
        missing = [k for k in ("ts_field", "key_fields", "value_field") if not params.get(k)]
        if missing:
            return RestResponse(400, {"error": f"missing parameter(s): {', '.join(missing)}"})
        # strip per segment: "k1, k2" must mean the k2 column, and an
        # unresolvable padded name would escape as an AnalysisException
        keys = [k.strip() for k in str(params["key_fields"]).split(",") if k.strip()]
        if not keys:
            return RestResponse(400, {"error": "key_fields resolved to an empty list"})
        try:
            df, route = self.store.aggregate(
                uri,
                params["ts_field"],
                keys,
                params["value_field"],
                resolution=params.get("resolution", "day"),
                schema=params.get("schema", ""),
                auto_refresh=str(params.get("auto_refresh", "true")).lower() != "false",
                distinct_field=params.get("distinct_field"),
                sumsq=str(params.get("sumsq", "false")).lower() == "true",
                sample_k=int(params.get("sample_k") or 0),
            )
            size = int(params.get("size") or 1000)
            rows = df.orderBy(*keys, "bucket_start").limit(size).collect()
            els = self._bucket_els(rows, keys)
            headers = {"aggregate-source": route.source}
            if route.rollup_id:
                headers["rollup-id"] = route.rollup_id
            if route.refresh_mode:
                headers["rollup-refresh"] = route.refresh_mode
            headers["coarsened"] = str(route.coarsened).lower()
            return RestResponse(200, {"_embedded": {"els": els}}, headers)
        except NotFoundError:
            return RestResponse(404)
        except ManifestConflict as e:
            return RestResponse(409, {"error": f"concurrent write, retry: {e}"})
        except ValueError as e:
            return RestResponse(400, {"error": str(e)})

    # -- index DDL sub-resource (hyperstorage.raml:100-123) -------------------

    # reserved sub-path on a collection: `<coll>~/_indexes[/<indexId>]`,
    # the engine's face of the reference's `/hyper-storage/indexes/{path}`
    # routes (the same reserved-segment convention as `_rollups`):
    #   POST `<coll>~/_indexes` {indexId?, sortBy?, filterBy?, background?}
    #     → 201 {indexId, path} + location (HyperStorageIndexCreated);
    #       duplicate id → 409 (IndexDefTaskWorker.scala:85-88);
    #       invalid collection/filter → 400
    #   GET  `<coll>~/_indexes` → 200 HAL list of defs
    #   GET  `<coll>~/_indexes/<id>` → 200 {indexId, sortBy, filterBy,
    #       status} (HyperStorageIndex + lifecycle status)
    #   DELETE `<coll>~/_indexes/<id>` → 204 (reference NoContent,
    #       IndexDefTaskWorker.scala:127); missing → 404
    _INDEXES_SEG = "~/_indexes"

    _STATUS_NAMES = {0: "INDEXING", 1: "DELETING", 2: "NORMAL"}

    @staticmethod
    def _sort_item_out(s) -> dict:
        # serialize EFFECTIVE type/order (raml marks both optional with
        # text/asc defaults) so clients always see the semantics in force
        return {
            "fieldName": s.field_name,
            "fieldType": s.effective_type,
            "order": "asc" if s.ascending else "desc",
        }

    def _indexes_route(self, m: str, path: str, body: Any, params: dict) -> RestResponse:
        from .plans import SortItem

        base, _, rest = path.partition(self._INDEXES_SEG)
        uri = base + "~"
        index_id = rest.lstrip("/") or None
        try:
            if m == "POST" and index_id is None:
                spec = body or {}
                # malformed bodies must be a 400, never an
                # AttributeError escaping handle() (the facade's
                # uniform contract for client errors)
                if not isinstance(spec, dict):
                    return RestResponse(400, {"error": "index spec must be a JSON object"})
                raw_sort = spec.get("sortBy") or []
                if not isinstance(raw_sort, list) or any(
                    not isinstance(s, dict) for s in raw_sort
                ):
                    return RestResponse(
                        400, {"error": "sortBy must be a list of objects"}
                    )
                sort_by = [
                    SortItem(
                        s.get("fieldName") or s.get("field_name"),
                        s.get("fieldType") or s.get("field_type"),
                        s.get("order"),
                    )
                    for s in raw_sort
                ]
                if any(s.field_name is None for s in sort_by):
                    return RestResponse(400, {"error": "sortBy items need a fieldName"})
                new_id = self.store.create_index(
                    uri,
                    spec.get("indexId"),
                    sort_by,
                    filter_by=spec.get("filterBy"),
                    background=bool(spec.get("background")),
                )
                return RestResponse(
                    201,
                    {"indexId": new_id, "path": uri},
                    {"location": f"{uri}/_indexes/{new_id}"},
                )
            if m == "GET":
                defs = self.store.index_defs(uri)
                if index_id is None:
                    els = [
                        {
                            "indexId": d.index_id,
                            "sortBy": [self._sort_item_out(s) for s in d.sort_by],
                            "filterBy": d.filter_by,
                            "status": self._STATUS_NAMES.get(d.status, str(d.status)),
                        }
                        for d in defs
                    ]
                    return RestResponse(200, {"_embedded": {"els": els}})
                d = next((x for x in defs if x.index_id == index_id), None)
                if d is None:
                    return RestResponse(404)
                return RestResponse(200, {
                    "indexId": d.index_id,
                    "sortBy": [self._sort_item_out(s) for s in d.sort_by],
                    "filterBy": d.filter_by,
                    "status": self._STATUS_NAMES.get(d.status, str(d.status)),
                })
            if m == "DELETE" and index_id is not None:
                self.store.delete_index(uri, index_id)
                return RestResponse(204)
            return RestResponse(405, {"error": f"{m} not supported on {path!r}"})
        except IndexAlreadyExists as e:
            return RestResponse(409, {"error": str(e)})
        except NotFoundError:
            return RestResponse(404)
        except ManifestConflict as e:
            return RestResponse(409, {"error": f"concurrent write, retry: {e}"})
        except ValueError as e:
            return RestResponse(400, {"error": str(e)})

    # -- transaction status (hyperstorage.raml:90-98) -------------------------

    # reserved top-level namespace `_transactions/{transactionId}` — the
    # face of GET /hyper-storage/transactions/{id}. The id names the
    # write's feed event (version-ts-uuid), so the lookup reads one feed
    # file. A write completes in its own flip, so a known id always
    # reads completed; an id 404s once feed retention drops its event.
    _TRANSACTIONS_PREFIX = "_transactions/"

    def _transactions_route(self, m: str, path: str) -> RestResponse:
        if m != "GET":
            return RestResponse(405, {"error": f"{m} not supported on {path!r}"})
        txn_id = path[len(self._TRANSACTIONS_PREFIX):]
        try:
            return RestResponse(200, self.store.get_transaction(txn_id))
        except NotFoundError:
            return RestResponse(404)

    # `<coll>~/_explain?filter=&sort=` — plan a collection query
    # WITHOUT executing it: chosen access path (base/MV physical
    # table), pushed sargable conjuncts, clustering-prefix usage, scan
    # direction, exact-vs-residual sort, and the ANALYZE row estimate
    # when stats exist. The REST face of DocumentStore.explain (the
    # reference's future-work explain surface).
    _EXPLAIN_SEG = "~/_explain"

    def _explain_route(self, m: str, path: str, params: dict) -> RestResponse:
        if m != "GET":
            return RestResponse(405, {"error": f"{m} not supported on {path!r}"})
        base, _, _rest = path.partition(self._EXPLAIN_SEG)
        uri = base + "~"
        try:
            # collection-existence check mirrors the collection GET
            # (query() 404s unknown collections; planning alone is
            # existence-agnostic, so the route must check explicitly)
            static = self.store._get_static(uri)
            if static is None or static["is_deleted"]:
                return RestResponse(404)
            plan = self.store.explain(
                uri,
                filter=params.get("filter"),
                sort=parse_sort(params.get("sort")),
            )
            return RestResponse(200, {
                "table": plan.table_name,
                "index_id": plan.index_id,
                "pushed_filters": [
                    {"field": f.name, "op": f.op.name, "value": f.value}
                    for f in plan.filter_fields
                ],
                "ck_fields": [
                    {"field": c.name, "ascending": c.ascending}
                    for c in plan.ck_fields
                ],
                "reversed": plan.reversed,
                "exact_sort": plan.exact_sort,
                "residual_compiled": plan.residual_compiled,
                "default_order": [
                    {"field": f, "ascending": a} for f, a in plan.default_order
                ],
                "estimated_rows": plan.estimated_rows,
                "driver": plan.driver,
            })
        except NotFoundError:
            return RestResponse(404)
        except ValueError as e:
            return RestResponse(400, {"error": str(e)})

    # `_streams` → registered stream names; `_streams/<name>/<kind>`
    # reads a registered foreachBatch state dir back over the facade:
    # corpus-stats (per-language totals), heavy-hitters (?phi= larger
    # override allowed — the read_heavy_hitters contract), expectations
    # (per-rule cumulative counts), quarantine (?size= row cap, total
    # count in the header — the chain can be corpus-sized), sample
    # (the ≤k-row bottom-k-by-hash uniform sample). Committed-
    # pointer discipline rides along from the readers themselves; a
    # state dir with no committed batch yet → 404, like any missing
    # resource.
    _STREAMS_PREFIX = "_streams"

    def _streams_route(self, m: str, path: str, params: dict) -> RestResponse:
        if m != "GET":
            return RestResponse(405, {"error": f"{m} not supported on {path!r}"})
        rest = path[len(self._STREAMS_PREFIX):].strip("/")
        if not rest:
            return RestResponse(200, {"streams": sorted(self.streams)})
        name, _, kind = rest.partition("/")
        root = self.streams.get(name)
        if root is None:
            return RestResponse(404)
        spark = self.store.spark
        if spark is None:
            return RestResponse(400, {"error": "stream read-back requires a SparkSession"})
        from .operators import dedup as _dd
        from .operators import expectations as _ex
        from .operators import sketches as _sk

        try:
            if kind == "corpus-stats":
                rows = _dd.read_corpus_stats(spark, root).collect()
                return RestResponse(200, {"stats": [r.asDict() for r in rows]})
            if kind == "heavy-hitters":
                phi = params.get("phi")
                df = _sk.read_heavy_hitters(
                    spark, root, phi=float(phi) if phi is not None else None
                )
                return RestResponse(
                    200, {"heavy_hitters": [r.asDict() for r in df.collect()]}
                )
            if kind == "expectations":
                rows = _ex.read_expectation_counts(spark, root).collect()
                return RestResponse(200, {"rules": [r.asDict() for r in rows]})
            if kind == "sample":
                from .operators import sampling as _sm

                df = _sm.read_uniform_sample(spark, root)
                # __ord (the bottom-k hash) is a unique long — a total
                # order by itself; payload columns may be non-orderable
                rows = (
                    df.orderBy("__ord") if "__ord" in df.columns else df
                ).collect()
                return RestResponse(200, {"sample": [r.asDict() for r in rows]})
            if kind == "quarantine":
                size = int(params.get("size", 100))
                df = _ex.read_quarantine(spark, root)
                total = df.count()
                # deterministic page order, but only ATOMIC columns are
                # orderable — a quarantined array/map column must not
                # break the read route
                from pyspark.sql.types import AtomicType

                atomic = [
                    f.name
                    for f in df.schema.fields
                    if isinstance(f.dataType, AtomicType) and f.name != "__batch_id"
                ]
                order = [c for c in ("__batch_id",) if c in df.columns] + atomic
                rows = (df.orderBy(*order) if order else df).limit(size).collect()
                return RestResponse(
                    200,
                    {"quarantined": [r.asDict() for r in rows]},
                    {"total-count": str(total)},
                )
            return RestResponse(
                400, {"error": f"unknown stream surface {kind!r}"}
            )
        except FileNotFoundError:
            return RestResponse(404)
        except ValueError as e:
            return RestResponse(400, {"error": str(e)})

    def handle(self, method: str, path: str, body: Any = None, **params) -> RestResponse:
        m = method.upper()
        # exact segment match only: a document item named
        # '_rollups_backup' contains the substring but is NOT the
        # sub-resource — routing on `in` would hijack it
        if path.endswith(self._ROLLUPS_SEG) or (self._ROLLUPS_SEG + "/") in path:
            return self._rollup_route(m, path, body, params)
        if path.endswith(self._INDEXES_SEG) or (self._INDEXES_SEG + "/") in path:
            return self._indexes_route(m, path, body, params)
        if path.startswith(self._TRANSACTIONS_PREFIX):
            return self._transactions_route(m, path)
        if path == self._STREAMS_PREFIX or path.startswith(self._STREAMS_PREFIX + "/"):
            return self._streams_route(m, path, params)
        if path.endswith(self._AGGREGATE_SEG):
            return self._aggregate_route(m, path, params)
        if path.endswith(self._EXPLAIN_SEG):
            return self._explain_route(m, path, params)
        allowed = self._VERB_PARAMS.get(m)
        if allowed is None:
            return RestResponse(405, {"error": f"method {method!r} not allowed"})
        unknown = sorted(set(params) - allowed)
        if unknown:
            return RestResponse(
                400,
                {"error": f"unsupported parameter(s) for {m}: {', '.join(unknown)}"},
            )
        if m == "GET":
            return self.get(path, **params)
        if m == "PUT":
            return self.put(path, body, **params)
        if m == "POST":
            return self.post(path, body)
        if m == "PATCH":
            return self.patch(path, body, **params)
        return self.delete(path, **params)
