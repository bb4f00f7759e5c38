"""Collection query planner + executor: the Spark re-expression of
HyperbusAdapter.selectCollection (HyperbusAdapter.scala:139-309).

Planning is the ported pure-Python logic (weigh every NORMAL index plus
the implicit id-ordered base table, pick the max; extract sargable
conjuncts for the chosen sort key; derive the usable ORDER BY prefix).
Every row a query can return lives in one bucket of the chosen source:
the index table's bucket 0, or the collection's content bucket. A fetch
takes one of two routes, chosen by that bucket's raw row count
(:data:`DRIVER_MAX_ROWS`):

* bounded — on the driver, as the reference serves a page (bounded
  index scans, residual filtering, sorting and top-N in memory): the
  bucket's rows (delta merged) through the pushed conjuncts, a stable
  sort, and the residual evaluated row by row until the page fills. No
  Spark job and no py4j call;
* above the bound — a DataFrame pipeline over the table's base files:

      chosen_source.filter(pushed conjuncts)      # parquet pushdown
                   .filter(compiled residual)     # expression language → Column
                   .orderBy(...).limit(...)       # TakeOrderedAndProject

  with the pending delta merged on the driver around the fetch.

For an exact sort match the ORDER BY runs on the physical sort columns
(typed: text lexicographic / decimal numeric — the index tables'
clustering-key semantics, db/scheme.cql:62-108). For an inexact match
the reference over-fetches pageSize+skipMax rows and sorts in memory
with dynamic type semantics (HyperbusAdapter.scala:181-197,341-376);
we do the same with the budget enforced, erroring beyond it, reading
the rows in item_id order (the base rows' clustering order) so that
ties keep one order whichever files hold them.

:func:`DocumentStore.query_paged` (attached here) is the REST keyset
pagination loop (queryUntilFetched, HyperbusAdapter.scala:268-309):
bounded number of storage selects, adaptive fetch growth, least-rows
resume filters from the ported IndexLogic.

An index table may hold a pending delta (rows item writes appended, see
store/storage.py). The driver route reads it merged; the Spark scan
reads base files only — the plan is the same with or without a delta —
and :func:`_merged_fetch` merges the delta around each bounded fetch.
"""

from __future__ import annotations

import functools
import itertools
import json
import operator
from dataclasses import dataclass, field, replace
from decimal import ROUND_HALF_UP, Decimal, localcontext
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..expression.compiler import CompileError, apply_filter, compile_filter_sql, variant_resolver
from ..expression.evaluator import EvalError, canonical_str, evaluate, is_number, to_decimal, truthy
from ..expression.parser import parse
from ..paths import is_collection_uri
from ..plans.field_filters import FieldFiltersExtractor
from ..plans.index_logic import (
    least_rows_filter_fields,
    merge_least_query_filter_fields,
    table_field_name,
    weigh_index,
)
from ..plans.model import (
    DECIMAL,
    STATUS_NORMAL,
    CkField,
    FieldFilter,
    FilterOp,
    SortBy,
    SortItem,
)
from ..plans.order_fields import extract_index_sort_fields
from .documents import (
    CONTENT,
    CONTENT_SPARK,
    DocumentStore,
    IndexDef,
    NotFoundError,
    index_spark_schema,
)
from .storage import Storage, merge_delta

DEFAULT_PAGE_SIZE = 100  # HyperbusAdapter.scala:35
DEFAULT_MAX_SKIPPED_ROWS = 10000  # HyperbusAdapter.scala:33
MAX_COLLECTION_SELECTS = 20  # HyperbusAdapter.scala:34


class QueryBudgetExceeded(RuntimeError):
    """query-skipped-rows-limited / query-count-limited parity."""


@dataclass
class PlanInfo:
    """What the planner chose — the analog of QueryCollectionsSpec's
    ``verify(db).select...`` plan assertions."""

    table_name: str  # "content" (base) or the index's physical table name
    index_id: Optional[str]
    filter_fields: list[FieldFilter] = field(default_factory=list)
    ck_fields: list[CkField] = field(default_factory=list)
    reversed: bool = False
    exact_sort: bool = True
    residual_compiled: bool = True
    # the chosen index's own clustering order [(physical col, asc)] —
    # the result order when the query asks for no explicit sort
    default_order: list[tuple[str, bool]] = field(default_factory=list)
    # histogram/NDV row estimate for the sargable conjuncts (None until
    # the collection is ANALYZEd — store/stats.py; a reference
    # future-work item, README «Что на будущее»)
    estimated_rows: Optional[int] = None
    # served on the driver, not by a Spark job (DRIVER_MAX_ROWS)
    driver: bool = False


@dataclass
class QueryResult:
    items: list[Any]
    revision: Optional[int]
    plan: PlanInfo

    def hal(self) -> dict:
        """HAL assembly (HyperbusAdapter.scala:117-135)."""
        return {"_embedded": {"els": self.items}}


def _lit_for(ff: FieldFilter, decimal_col: bool):
    if decimal_col:
        return F.lit(to_decimal(ff.value)).cast("decimal(38,12)")
    return F.lit(ff.value if isinstance(ff.value, str) else canonical_str(ff.value))


_SCALE_12 = Decimal(1).scaleb(-12)


def _value_for(ff: FieldFilter, decimal_col: bool):
    """The value of :func:`_lit_for`'s literal, as Python compares it
    with a row's cell (the decimal cast rounds half up to scale 12)."""
    if decimal_col:
        with localcontext() as ctx:
            ctx.prec = 80
            return to_decimal(ff.value).quantize(_SCALE_12, rounding=ROUND_HALF_UP)
    return ff.value if isinstance(ff.value, str) else canonical_str(ff.value)


def _null_value_cond(c, op: FilterOp):
    """Pushed-filter condition for a NULL comparand. Sort columns store
    NULL for missing/containerized fields, and Spark orders them
    NULLS-FIRST ascending / NULLS-LAST descending — a '' literal (the
    old canonical_str(None) translation) matched neither, so keyset
    pages resuming from a NULL-valued row silently dropped the rest of
    the NULL group."""
    return {
        FilterOp.EQ: c.isNull(),
        FilterOp.GT: c.isNotNull(),  # asc resume: everything past the leading NULL run
        FilterOp.GTEQ: F.lit(True),
        FilterOp.LT: F.lit(False),  # desc resume: nothing sorts below the trailing NULLs
        FilterOp.LTEQ: c.isNull(),
    }[op]


_NULL_VALUE_OK = {
    FilterOp.EQ: lambda c: c is None,
    FilterOp.GT: lambda c: c is not None,
    FilterOp.GTEQ: lambda c: True,
    FilterOp.LT: lambda c: False,
    FilterOp.LTEQ: lambda c: c is None,
}
# the pushed comparisons, on Spark Columns and on values held in memory
_COMPARE = {
    FilterOp.EQ: operator.eq,
    FilterOp.GT: operator.gt,
    FilterOp.GTEQ: operator.ge,
    FilterOp.LT: operator.lt,
    FilterOp.LTEQ: operator.le,
}


def _field_filters_pred(filters: list[FieldFilter], decimal_cols: set[str]) -> Callable[[dict], bool]:
    """:func:`_apply_field_filters` as a predicate on one row held in
    memory (a delta row, or a row the driver route reads): the same
    conditions, under SQL null semantics. Each comparand is converted
    once, here, not per row."""
    tests: list[tuple[str, Callable[[Any], bool]]] = []
    for ff in filters:
        if ff.value is None:
            tests.append((ff.name, _NULL_VALUE_OK[ff.op]))
            continue
        try:
            v = _value_for(ff, ff.name in decimal_cols)
        except EvalError:  # no typed scalar form: see _apply_field_filters
            tests.append((ff.name, (lambda c: c is None) if ff.op == FilterOp.EQ else (lambda c: False)))
            continue
        cmp = _COMPARE[ff.op]
        tests.append((ff.name, lambda c, v=v, cmp=cmp: c is not None and cmp(c, v)))

    def ok(row: dict) -> bool:
        for name, test in tests:
            if not test(row.get(name)):
                return False
        return True

    return ok


def _apply_field_filters(df: DataFrame, filters: list[FieldFilter], decimal_cols: set[str]) -> DataFrame:
    for ff in filters:
        c = F.col(ff.name)
        if ff.value is None:
            df = df.filter(_null_value_cond(c, ff.op))
            continue
        try:
            v = _lit_for(ff, ff.name in decimal_cols)
        except EvalError:
            # no typed scalar form (array/object literal, or a
            # non-numeric constant against a decimal column). Only
            # NULL-celled rows could still satisfy the TRUE predicate
            # (containers have no sort value, so their rows store
            # NULL) — keep those for the residual filter on equality;
            # ordering against an unconvertible constant eval-errors
            # per row, which rejects, so ranges push FALSE.
            df = df.filter(c.isNull() if ff.op == FilterOp.EQ else F.lit(False))
            continue
        df = df.filter(_COMPARE[ff.op](c, v))
    return df


def _with_residual(plan: PlanInfo, src: "_Source", filter_ast) -> "_Source":
    """``src`` with the full filter applied as the residual predicate,
    on its rows and on its frame; records in ``plan`` whether the
    residual compiled. Only callers that fetch through ``src`` apply
    it: the paging loop judges fetched rows with :func:`_residual_ok`
    itself. A driver-routed source decides ``compiled`` from the SQL
    text alone and builds no frame; a Spark-routed one compiles the
    residual into its frame here."""
    if filter_ast is None:
        return src
    if src.driver:
        try:
            compile_filter_sql(filter_ast, variant_resolver("body"))
            compiled = True
        except CompileError:
            compiled = False
        build = lambda: (_apply_residual(src.df, filter_ast)[0], src.delta)  # noqa: E731
    else:
        df, compiled = _apply_residual(src.df, filter_ast)
        build = lambda: (df, src.delta)  # noqa: E731
    plan.residual_compiled = compiled
    return replace(
        src,
        build=build,
        residual=lambda r: _residual_ok(
            filter_ast, json.loads(r["body"]) if r["body"] is not None else None, compiled
        ),
    )


def _apply_residual(df: DataFrame, filter_ast) -> tuple[DataFrame, bool]:
    """Apply the full filter as the residual predicate (prepared frame —
    one JSON parse per row); fall back to an Arrow-batched Python
    evaluator only for non-compilable constructs."""
    try:
        return apply_filter(df, filter_ast, json_col="body", json_only=True), True
    except CompileError:
        from pyspark.sql.types import BooleanType

        @F.pandas_udf(BooleanType())
        def residual(bodies):
            import pandas as pd

            def ok(b):
                if b is None:
                    return False
                try:
                    v = json.loads(b)
                    ctx = v if isinstance(v, dict) else {}
                    return bool(truthy(evaluate(filter_ast, ctx)))
                except (EvalError, ValueError):
                    return False

            return pd.Series([ok(b) for b in bodies])

        return df.filter(residual(F.col("body"))), False


def _residual_ok(filter_ast, body, compiled: bool = True) -> bool:
    """The residual on one parsed body, as queryAndFilterRows judges a
    row (HyperbusAdapter.scala:236-243): evaluation error ⇒ rejected.
    The uncompiled residual's UDF rejects a null body outright."""
    if filter_ast is None:
        return True
    if body is None and not compiled:
        return False
    try:
        return bool(truthy(evaluate(filter_ast, body if isinstance(body, dict) else {})))
    except EvalError:
        return False


# A source whose bucket holds at most this many raw rows (base + delta,
# before the merge) is served on the driver. It is the reference's own
# in-memory budget: an inexact-sort page sorts up to pageSize + skipMax
# rows in memory (HyperbusAdapter.scala:181-197). The driver route reads,
# filters and sorts the whole bucket on every fetch and holds it in
# driver memory; the Spark route prunes row groups and scales out, so it
# stays for larger sources. Measured with tools/query_routes.py on a
# 4-core VM (bulk-loaded collection, one decimal index, 20-row pages
# asserted identical on both routes; median ms, driver / Spark):
#
#     items    index range page    residual scan page
#     2,000        6 /  422            13 /   440
#    10,000       19 /  334            25 /   472
#    40,000       61 /  286            66 /   868
#   100,000      384 /  356           328 / 1,782
#   200,000    1,636 /  454         1,519 / 3,350
#
# The range page crosses over near 100k items, where the bucket
# outgrows the decoded-row cache (Storage.READ_CACHE_ROWS) and each
# driver fetch decodes parquet again.
DRIVER_MAX_ROWS = DEFAULT_PAGE_SIZE + DEFAULT_MAX_SKIPPED_ROWS


@dataclass
class _Source:
    """A chosen source: bucket ``bucket`` of ``table``, which holds
    every row the query can return, and its predicates on one row held
    in memory: ``keep``, the pushed conjuncts (for the base table also
    the collection's live items), and after :func:`_with_residual` the
    ``residual``. ``driver`` is its route (:data:`DRIVER_MAX_ROWS`).
    ``build`` makes the Spark face from one manifest read, only when
    first asked for: ``df``, a frame over the table's base files
    carrying the same predicates, and ``delta``, the pending delta
    (item_id → newest delta row)."""

    storage: Storage
    table: str
    bucket: int
    driver: bool
    keep: Callable[[dict], bool]
    build: Callable[[], tuple[DataFrame, dict]]
    residual: Optional[Callable[[dict], bool]] = None

    @functools.cached_property
    def _frame(self) -> tuple[DataFrame, dict]:
        return self.build()

    @property
    def df(self) -> DataFrame:
        return self._frame[0]

    @property
    def delta(self) -> dict:
        return self._frame[1]


def _source(store: DocumentStore, table: str, bucket: int, spark_schema: str, keep, push) -> _Source:
    """The source ``bucket`` of ``table`` with the predicates ``keep``
    (on a row) and ``push`` (on a frame), routed by the bucket's raw
    row count, which :meth:`Storage.bucket_shape` counts without
    decoding a row."""
    _, base, delta = store.storage.bucket_shape(table, bucket)

    def build():
        df, pending = store.storage.spark_df_and_delta(store.spark, table, spark_schema)
        return push(df), pending

    return _Source(store.storage, table, bucket, base + delta <= DRIVER_MAX_ROWS, keep, build)


def _merged_fetch(src: _Source, order: list[tuple[str, bool]], limit: int) -> list:
    """The first ``limit`` rows of the source that pass its predicates,
    in ``order`` ((physical column, ascending) pairs) — the one router
    of query and query_paged: ``src.driver``, which their plans and
    explain's report, picks the route.

    Driver: the bucket's rows, delta merged (Storage.bucket_rows), that
    ``keep`` accepts, sorted, then the residual judged row by row until
    ``limit`` rows pass. Spark: the pending delta merged in by the one
    rule (storage.merge_delta): fetch ``limit + |delta|`` base rows,
    drop those the delta supersedes, add the live delta rows the
    predicates accept, re-sort, cut to ``limit``. Exact, because at
    most ``|delta|`` fetched rows can be superseded. Rows are dicts or
    Spark Rows; both index by column name."""
    if src.driver:
        rows = _sort_rows(list(filter(src.keep, src.storage.bucket_rows(src.table, src.bucket))), order)
        return list(itertools.islice(filter(src.residual, rows) if src.residual else rows, limit))
    df = src.df.orderBy(*[F.col(n).asc() if a else F.col(n).desc() for n, a in order])
    if not src.delta:
        return df.limit(limit).collect()
    keep = src.keep if src.residual is None else lambda r: src.keep(r) and src.residual(r)
    rows = merge_delta(df.limit(limit + len(src.delta)).collect(), src.delta, keep)
    return _sort_rows(rows, order)[:limit]


def _sort_rows(rows: list, order: list[tuple[str, bool]]) -> list:
    """``rows`` in Spark's ORDER BY over ``order``: nulls first
    ascending, last descending. Stable, one pass per column from the
    last; a pair's key never compares None with a value."""
    for name, asc in reversed(order):
        rows.sort(key=lambda r: (r[name] is not None, r[name]), reverse=not asc)
    return rows


def query(
    store: DocumentStore,
    uri: str,
    filter: Optional[str] = None,
    sort: Optional[list[SortBy]] = None,
    size: int = DEFAULT_PAGE_SIZE,
    skip_max: int = DEFAULT_MAX_SKIPPED_ROWS,
) -> QueryResult:
    """Query a collection: filter/sort/size/skipMax
    (HyperbusAdapter.scala:93-136 queryCollection)."""
    if not (is_collection_uri(uri)):
        raise ValueError(f"{uri!r} is not a collection URI")
    static = store._get_static(uri)
    if static is None or static["is_deleted"]:
        raise NotFoundError(uri)

    sort = list(sort or [])
    plan, src, filter_ast = _plan(store, uri, filter, sort)
    src = _with_residual(plan, src, filter_ast)

    if plan.exact_sort:
        fetched = _merged_fetch(src, _order_spec(plan), size)
        # body can be NULL on a live row (reference parity: a PATCH whose
        # merge result is Null stores body=None with isDeleted=false,
        # PrimaryWorker.mergeBody) — surface as None, never crash
        items = [json.loads(r["body"]) if r["body"] is not None else None for r in fetched]
    else:
        budget = size + skip_max
        fetched = _merged_fetch(src, [("item_id", True)], budget + 1)
        if len(fetched) > budget:
            raise QueryBudgetExceeded(f"Maximum skipped row limit is reached: {skip_max}")
        rows = _collection_ordering_sort(
            [json.loads(r["body"]) if r["body"] is not None else None for r in fetched], sort
        )
        items = rows[:size]

    return QueryResult(items, static["revision"], plan)


def _plan(store: DocumentStore, uri: str, filter: Optional[str], sort: list[SortBy]):
    # a collection created before its template registers still gets the
    # template's index on first query (lazy instantiation + backfill)
    store.instantiate_templates(uri)
    filter_ast = parse(filter) if filter else None
    def_id_sort = SortItem("id", "text", "asc")

    # candidate sources: NORMAL indexes (+ implicit trailing id sort) and
    # the id-ordered base table (HyperbusAdapter.scala:144-161)
    candidates: list[tuple[int, list[SortItem], Optional[IndexDef]]] = []
    if filter or sort:
        for idef in store.index_defs(uri):
            if idef.status != STATUS_NORMAL:
                continue
            index_sort = idef.sort_by_with_id
            f_ast = parse(idef.filter_by) if idef.filter_by else None
            candidates.append((weigh_index(filter_ast, sort, f_ast, index_sort), index_sort, idef))
    candidates.append((weigh_index(filter_ast, sort, None, [def_id_sort]), [def_id_sort], None))

    # reduceLeft((l,r) => if (l._1 > r._1) l else r): ties go to the LATER
    # candidate, and the base table is appended last
    # (HyperbusAdapter.scala:161-163)
    best = candidates[0]
    for c in candidates[1:]:
        if c[0] >= best[0]:
            best = c
    _, index_sort_fields, idef = best

    ffe = FieldFiltersExtractor(index_sort_fields)
    filter_fields = ffe.extract(filter_ast) if filter_ast is not None else []
    ck_fields, reversed_ = extract_index_sort_fields(sort, index_sort_fields)
    exact = len(ck_fields) == len(sort) or not sort

    if idef is None:
        # base scan pushes only the item_id bound (db/Db.scala:146-177)
        item_filters = [f for f in filter_fields if f.name == "item_id"]
        src = _base_source(store, uri, item_filters)
        plan = PlanInfo(CONTENT, None, item_filters, ck_fields, reversed_, exact, driver=src.driver)
    else:
        src = _index_source(store, idef, filter_fields)
        plan = PlanInfo(idef.table_name, idef.index_id, filter_fields, ck_fields, reversed_, exact, driver=src.driver)
        # the reference returns MV rows in the index table's clustering
        # order (sort columns per DDL asc/desc, then item_id) even when
        # the query asks for no sort — record it for _order_spec
        plan.default_order = [
            (_field_name(idef, i), (s.order or "asc") != "desc")
            for i, s in enumerate(idef.sort_by)
        ] + [("item_id", True)]

    from .stats import estimate_rows

    plan.estimated_rows = estimate_rows(store, uri, filter_ast)
    return plan, src, filter_ast


def _field_name(idef: IndexDef, i: int) -> str:
    from ..plans.index_logic import table_field_name

    return table_field_name(idef.sort_by[i], len(idef.sort_by), i)


def _order_spec(plan: PlanInfo) -> list[tuple[str, bool]]:
    """ORDER BY on the chosen source's physical sort columns, as
    (column, ascending) pairs. For the base table the implicit order is
    item_id asc unless reversed (queryAndFilterRows,
    HyperbusAdapter.scala:203-209)."""
    if plan.index_id is None:
        return [("item_id", next((ck.ascending for ck in plan.ck_fields if ck.name == "item_id"), True))]
    if not plan.ck_fields and plan.default_order:
        # no explicit sort: the index's own clustering order (flipped
        # when the scan direction is reversed)
        return [(name, asc != plan.reversed) for name, asc in plan.default_order]
    order = [(ck.name, ck.ascending) for ck in plan.ck_fields]
    # stabilize with item_id: the implicit trailing clustering key is
    # ALWAYS asc in the index DDL (sort_by_with_id's defIdSort), so its
    # scan direction follows plan.reversed — NOT the previous field's
    # own direction (a desc-DDL column scanned forward still pages ties
    # by item_id asc; least_rows_filter_fields computes the resume op
    # from reversed ^ asc(id)=True, and the two must agree or keyset
    # paging re-fetches/skips rows inside tie groups)
    if not any(ck.name == "item_id" for ck in plan.ck_fields):
        order.append(("item_id", not plan.reversed))
    return order


def _collection_ordering_sort(items: list[Any], sort: list[SortBy]) -> list[Any]:
    """CollectionOrdering port: multi-field, numeric iff both numbers,
    else canonical-string comparison (HyperbusAdapter.scala:341-376)."""

    def extract(item, name):
        cur = item if isinstance(item, dict) else {}
        for seg in name.split("."):
            if isinstance(cur, dict) and seg in cur:
                cur = cur[seg]
            else:
                return None
        return cur

    def cmp_values(x, y):
        if is_number(x) and is_number(y):
            a, b = to_decimal(x), to_decimal(y)
        else:
            try:
                a, b = canonical_str(x), canonical_str(y)
            except EvalError:
                a, b = str(x), str(y)
        return (a > b) - (a < b)

    def cmp(xi, yi):
        for sb in sort:
            xv, yv = extract(xi, sb.field_name), extract(yi, sb.field_name)
            c = cmp_values(yv, xv) if sb.descending else cmp_values(xv, yv)
            if c != 0:
                return c
        return 0

    return sorted(items, key=functools.cmp_to_key(cmp))


def _resume_value_from_row(index_sort_fields: list, row) -> dict:
    """Synthetic resume mapping for :func:`least_rows_filter_fields`
    built from a fetched row's PHYSICAL sort columns — used when the
    row's body is None (a legal live state: PATCH merging to Null) and
    the body-path walk has nothing to extract. The physical cell is the
    committed sort position, so the keyset filters it yields are exact."""
    out: dict = {}
    size = len(index_sort_fields)
    for i, item in enumerate(index_sort_fields):
        try:
            v = row[table_field_name(item, size, i)]
        except (KeyError, ValueError, TypeError):
            continue
        if v is None:
            continue
        cur = out
        segs = item.field_name.split(".")
        for seg in segs[:-1]:
            cur = cur.setdefault(seg, {})
        cur[segs[-1]] = v
    return out


def query_paged(
    store: DocumentStore,
    uri: str,
    filter: Optional[str] = None,
    sort: Optional[list[SortBy]] = None,
    size: int = DEFAULT_PAGE_SIZE,
    skip_max: int = DEFAULT_MAX_SKIPPED_ROWS,
) -> QueryResult:
    """The REST fetch loop: keyset pagination with guardrails
    (queryUntilFetched, HyperbusAdapter.scala:268-309). Functionally
    equivalent to :func:`query` for exact-sort queries, but scans in
    bounded pages with least-rows resume filters — ≤20 storage selects,
    adaptive fetch growth, skipped-row budget."""
    sort = list(sort or [])
    static = store._get_static(uri)
    if static is None or static["is_deleted"]:
        raise NotFoundError(uri)

    plan, _, filter_ast = _plan(store, uri, filter, sort)
    if not plan.exact_sort:
        return query(store, uri, filter, sort, size, skip_max)

    index_sort_fields = (
        next(d for d in store.index_defs(uri) if d.index_id == plan.index_id).sort_by_with_id
        if plan.index_id is not None
        else [SortItem("id", "text", "asc")]
    )

    items: list[Any] = []
    selects: list[dict] = []  # plan trace: one entry per storage select
    least: list[FieldFilter] = []
    skipped = 0
    recursion = 0
    last_value: Optional[dict] = None
    last_row = None  # persists across pages: an EMPTY page must shrink
    # the resume (reached_end) from the previous page's position, not
    # lose it
    while True:
        if recursion >= MAX_COLLECTION_SELECTS:
            raise QueryBudgetExceeded(f"Maximum query count is reached: {recursion}")
        if skipped >= skip_max:
            raise QueryBudgetExceeded(f"Maximum skipped row limit is reached: {skipped}")
        fetch_limit = size + max(
            int(recursion * (skip_max - size) / (MAX_COLLECTION_SELECTS * 1.0)), 0
        )

        merged = merge_least_query_filter_fields(plan.filter_fields, least)
        fetched = _merged_fetch(_plan_raw(store, uri, plan, merged), _order_spec(plan), fetch_limit)
        selects.append({"table": plan.table_name, "filters": merged, "limit": fetch_limit})

        accepted = []
        for r in fetched:
            body = json.loads(r["body"]) if r["body"] is not None else None
            last_value = body
            last_row = r
            if _residual_ok(filter_ast, body):
                accepted.append(body)
        items.extend(accepted)
        total_fetched = len(fetched)

        # deliberately the reference's per-CALL accepted count, not the
        # accumulated total (queryUntilFetched, HyperbusAdapter.scala:
        # 316-318 `totalAccepted >= ops.limit`) — it may issue extra
        # selects after enough rows accumulate, but reproduces the
        # reference's select traces exactly
        if len(accepted) >= size or (
            (not least or (len(least) == 1 and least[0].op != FilterOp.EQ))
            and total_fetched < fetch_limit
        ):
            break
        if last_row is None:
            break  # nothing EVER fetched — no resume position exists.
            # (An empty page after non-empty ones proceeds: reached_end
            # is True and the shrink widens the previous resume.)
        if last_value is None:
            # a LIVE row may legally carry body=None (a PATCH merging to
            # Null stores body=None, is_deleted=false) — review r12:
            # breaking here silently truncated pagination while query()
            # over the same data kept going. Resume from the fetched
            # row's PHYSICAL sort cells instead; the committed cell is
            # the authoritative keyset position regardless of the body.
            last_value = _resume_value_from_row(index_sort_fields, last_row)
        # prev size = the MERGED filter just issued (EQ prefix + resume
        # — the convention the reference's shrink vectors pin), not the
        # resume-only count: with an EQ query filter on a sort prefix,
        # passing len(least) made the shrink land below start_index —
        # an empty resume that ended pagination with rows unread
        # (review r12)
        next_least = least_rows_filter_fields(
            index_sort_fields,
            plan.filter_fields,
            len(merged) if least else 0,
            total_fetched < fetch_limit,
            last_value,
            plan.reversed,
        )
        if not next_least:
            break
        least = next_least
        recursion += 1
        skipped += total_fetched - len(accepted)

    result = QueryResult(items[:size], static["revision"], plan)
    result.selects = selects
    return result


def _plan_raw(store: DocumentStore, uri: str, plan: PlanInfo, filters: list[FieldFilter]) -> _Source:
    """Rebuild the chosen source with an explicit pushed-filter set
    (used by the paging loop to apply merged least-rows filters)."""
    if plan.index_id is None:
        return _base_source(store, uri, [f for f in filters if f.name == "item_id"])
    idef = next(d for d in store.index_defs(uri) if d.index_id == plan.index_id)
    return _index_source(store, idef, filters)


def _base_source(store: DocumentStore, uri: str, filters: list[FieldFilter]) -> _Source:
    """The collection's live items in its content bucket, ``filters``
    pushed; the Spark frame reads the whole content table."""
    pushed = _field_filters_pred(filters, set())
    return _source(
        store, CONTENT, store._bucket(uri), CONTENT_SPARK,
        # a null cell fails each SQL condition, as in the frame's filter
        lambda r: r["document_uri"] == uri and r["item_id"] not in ("", None) and r["is_deleted"] is False
        and pushed(r),
        lambda df: _apply_field_filters(
            df.filter((F.col("document_uri") == uri) & (F.col("item_id") != "") & (~F.col("is_deleted"))),
            filters,
            set(),
        ),
    )


def _index_source(store: DocumentStore, idef: IndexDef, filters: list[FieldFilter]) -> _Source:
    """The index table, ``filters`` pushed."""
    decimal_cols = {
        name
        for i, s in enumerate(idef.sort_by)
        if (name := _field_name(idef, i)) != "item_id" and s.effective_type == DECIMAL
    }
    return _source(
        store, idef.storage_table, 0, index_spark_schema(idef.sort_by),
        _field_filters_pred(filters, decimal_cols),
        lambda df: _apply_field_filters(df, filters, decimal_cols),
    )


def explain(
    store: DocumentStore,
    uri: str,
    filter: Optional[str] = None,
    sort: Optional[list[SortBy]] = None,
) -> PlanInfo:
    """Plan a collection query without executing it — the `explain`
    surface the reference lists as future work (README «Что на
    будущее»): which access path (base/MV), pushed conjuncts, ORDER BY
    prefix, scan direction, exact-vs-residual sort."""
    plan, src, filter_ast = _plan(store, uri, filter, list(sort or []))
    _with_residual(plan, src, filter_ast)
    return plan


# attach as DocumentStore methods
DocumentStore.query = lambda self, uri, filter=None, sort=None, size=DEFAULT_PAGE_SIZE, skip_max=DEFAULT_MAX_SKIPPED_ROWS: query(  # noqa: E731
    self, uri, filter, sort, size, skip_max
)
DocumentStore.query_paged = lambda self, uri, filter=None, sort=None, size=DEFAULT_PAGE_SIZE, skip_max=DEFAULT_MAX_SKIPPED_ROWS: query_paged(  # noqa: E731
    self, uri, filter, sort, size, skip_max
)
DocumentStore.explain = lambda self, uri, filter=None, sort=None: explain(  # noqa: E731
    self, uri, filter, sort
)
