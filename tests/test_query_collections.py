"""The 17 QueryCollectionsSpec scenarios (QueryCollectionsSpec.scala:80-310)
— results AND access-path assertions (which table the planner scanned,
which conjuncts were pushed), the reference's single most valuable
correctness corpus.

Fixture F1: 3 items; indexes:
  index1: no sort,     filter "b > 10"  → table index_content
  index2: sort a asc,  filter "b > 10"  → table index_content_ta0
  index3: sort a asc,  no filter        → table index_content_ta0
"""

from decimal import Decimal

import pytest

from hyper_storage_spark.plans import FieldFilter, FilterOp, SortBy, SortItem
from hyper_storage_spark.store import DocumentStore, NotFoundError, QueryBudgetExceeded

# every query below runs on the driver route and on the Spark route,
# which must give the same items, plans and select traces
pytestmark = pytest.mark.usefixtures("routes")

C1 = {"a": "hello", "b": 100500, "id": "item1"}
C2 = {"a": "goodbye", "b": 1, "id": "item2"}
C3 = {"a": "way way", "b": 12, "id": "item3"}


@pytest.fixture()
def store(spark, tmp_path):
    s = DocumentStore(str(tmp_path / "qc"), spark=spark)
    s.put("collection-1~/item1", {"a": "hello", "b": 100500})
    s.put("collection-1~/item2", {"a": "goodbye", "b": 1})
    s.put("collection-1~/item3", {"a": "way way", "b": 12})
    return s


@pytest.fixture()
def indexed(store):
    store.create_index("collection-1~", "index1", [], "b > 10")
    store.create_index(
        "collection-1~", "index2", [SortItem("a", "text", "asc")], "b > 10"
    )
    store.create_index("collection-1~", "index3", [SortItem("a", "text", "asc")], None)
    return store


def test_no_sort_no_index_filter_by_id(store):
    res = store.query("collection-1~", filter='id ="item3"', size=5)
    assert res.items == [C3]
    assert res.plan.table_name == "content"
    assert res.plan.filter_fields == [FieldFilter("item_id", "item3", FilterOp.EQ)]
    assert res.hal() == {"_embedded": {"els": [C3]}}


def test_no_sort_no_index_filter_by_other_field(store):
    res = store.query("collection-1~", filter='a ="way way"', size=1)
    assert res.items == [C3]
    assert res.plan.table_name == "content"
    # paged variant reproduces the reference's two-select trace:
    # selects with limit 1 then limit 500 resuming after item1
    paged = store.query_paged("collection-1~", filter='a ="way way"', size=1)
    assert paged.items == [C3]
    assert [s["limit"] for s in paged.selects] == [1, 500]
    assert paged.selects[1]["filters"] == [FieldFilter("item_id", "item1", FilterOp.GT)]


def test_query_by_id_asc(indexed):
    res = indexed.query("collection-1~", sort=[SortBy("id")], size=50)
    assert res.items == [C1, C2, C3]
    assert res.plan.table_name == "content"


def test_query_by_id_desc(indexed):
    res = indexed.query("collection-1~", sort=[SortBy("id", True)], size=50)
    assert res.items == [C3, C2, C1]
    assert res.plan.table_name == "content"


def test_by_id_asc_filter_by_id(indexed):
    res = indexed.query("collection-1~", sort=[SortBy("id")], size=50, filter='id >"item1"')
    assert res.items == [C2, C3]
    assert res.plan.table_name == "content"
    assert res.plan.filter_fields == [FieldFilter("item_id", "item1", FilterOp.GT)]


def test_by_id_desc_filter_by_id(indexed):
    res = indexed.query(
        "collection-1~", sort=[SortBy("id", True)], size=50, filter='id <"item3"'
    )
    assert res.items == [C2, C1]
    assert res.plan.table_name == "content"
    assert res.plan.filter_fields == [FieldFilter("item_id", "item3", FilterOp.LT)]


def test_filter_by_non_index_field(indexed):
    res = indexed.query("collection-1~", filter='a ="way way"', size=2)
    assert res.items == [C3]
    assert res.plan.table_name == "content"
    paged = indexed.query_paged("collection-1~", filter='a ="way way"', size=2)
    assert paged.items == [C3]
    assert [s["limit"] for s in paged.selects] == [2, 501]
    assert paged.selects[1]["filters"] == [FieldFilter("item_id", "item2", FilterOp.GT)]


def test_filter_by_non_index_field_desc(indexed):
    res = indexed.query(
        "collection-1~", sort=[SortBy("id", True)], size=2, filter='a ="hello"'
    )
    assert res.items == [C1]
    assert res.plan.table_name == "content"
    paged = indexed.query_paged(
        "collection-1~", sort=[SortBy("id", True)], size=2, filter='a ="hello"'
    )
    assert paged.items == [C1]
    assert [s["limit"] for s in paged.selects] == [2, 501]
    assert paged.selects[1]["filters"] == [FieldFilter("item_id", "item2", FilterOp.LT)]


def test_filter_and_sort_non_index_full_scan(store):
    res = store.query("collection-1~", sort=[SortBy("a")], size=2, filter='a >"goodbye"')
    assert res.items == [C1, C3]
    assert res.plan.table_name == "content"
    assert not res.plan.exact_sort  # full fetch + in-memory sort path


def test_filter_and_sort_desc_non_index_full_scan(store):
    res = store.query(
        "collection-1~", sort=[SortBy("a", True)], size=2, filter='a >"goodbye"'
    )
    assert res.items == [C3, C1]
    assert not res.plan.exact_sort


def test_filter_matches_index_filter_and_sort(indexed):
    res = indexed.query("collection-1~", sort=[SortBy("id")], size=50, filter="b > 10")
    assert res.items == [C1, C3]
    assert res.plan.table_name == "index_content"
    assert res.plan.index_id == "index1"
    assert res.plan.filter_fields == []

    res2 = indexed.query("collection-1~", sort=[SortBy("a")], size=50, filter="b > 10")
    assert res2.items == [C1, C3]
    assert res2.plan.table_name == "index_content_ta0"
    assert res2.plan.index_id == "index2"


def test_filter_matches_index_filter_reversed_sort(indexed):
    res = indexed.query("collection-1~", sort=[SortBy("a", True)], size=50, filter="b > 10")
    assert res.items == [C3, C1]
    assert res.plan.table_name == "index_content_ta0"
    assert res.plan.index_id == "index2"
    assert res.plan.reversed

    res2 = indexed.query(
        "collection-1~",
        sort=[SortBy("a", True), SortBy("id", True)],
        size=50,
        filter="b > 10",
    )
    assert res2.items == [C3, C1]
    assert res2.plan.index_id == "index2"
    assert [(c.name, c.ascending) for c in res2.plan.ck_fields] == [
        ("t0", False),
        ("item_id", False),
    ]


def test_filter_partially_matches_index_filter(indexed):
    # query b > 12 ⊂ index filter b > 10 (Wider) → index1 serves it,
    # residual re-filter drops item3
    res = indexed.query("collection-1~", sort=[SortBy("id")], size=50, filter="b > 12")
    assert res.items == [C1]
    assert res.plan.table_name == "index_content"
    assert res.plan.index_id == "index1"


def test_partial_index_filter_with_ck_field_filter(indexed):
    res = indexed.query(
        "collection-1~", sort=[SortBy("a")], size=50, filter='b > 10 and a > "hello"'
    )
    assert res.items == [C3]
    assert res.plan.index_id == "index2"
    assert res.plan.filter_fields == [FieldFilter("t0", "hello", FilterOp.GT)]

    res2 = indexed.query(
        "collection-1~",
        sort=[SortBy("a"), SortBy("id")],
        size=50,
        filter='b > 10 and a = "hello" and id > "item2"',
    )
    assert res2.items == []
    assert res2.plan.index_id == "index2"
    assert res2.plan.filter_fields == [
        FieldFilter("t0", "hello", FilterOp.EQ),
        FieldFilter("item_id", "item2", FilterOp.GT),
    ]
    assert [(c.name, c.ascending) for c in res2.plan.ck_fields] == [
        ("t0", True),
        ("item_id", True),
    ]


def test_sort_matches_ck_fields_skipping_unmatched_filter(indexed):
    # sort a + filter b < 50 → index3 (sort matches, no index filter)
    res = indexed.query("collection-1~", sort=[SortBy("a")], size=2, filter="b < 50")
    assert res.items == [C2, C3]
    assert res.plan.table_name == "index_content_ta0"
    assert res.plan.index_id == "index3"
    paged = indexed.query_paged("collection-1~", sort=[SortBy("a")], size=2, filter="b < 50")
    assert paged.items == [C2, C3]
    # the spec verifies the first two selects; a third (suffix-shrunk
    # t0 > 'hello', adaptive limit 1001) finds item3
    assert [s["limit"] for s in paged.selects] == [2, 501, 1001]
    # resume filter: t0='hello' & item_id>'item1' (after the rejected c1)
    assert paged.selects[1]["filters"] == [
        FieldFilter("t0", "hello", FilterOp.EQ),
        FieldFilter("item_id", "item1", FilterOp.GT),
    ]
    assert paged.selects[2]["filters"] == [FieldFilter("t0", "hello", FilterOp.GT)]


def test_sort_matches_ck_fields_with_query_ck_filter(indexed):
    res = indexed.query(
        "collection-1~", sort=[SortBy("a")], size=2, filter='b < 50 and a < "zzz"'
    )
    assert res.items == [C2, C3]
    assert res.plan.index_id == "index3"
    assert res.plan.filter_fields == [FieldFilter("t0", "zzz", FilterOp.LT)]


def test_sort_matches_ck_fields_with_query_ck_filter_reversed(indexed):
    res = indexed.query(
        "collection-1~", sort=[SortBy("a", True)], size=2, filter='b < 50 and a > "aaa"'
    )
    assert res.items == [C3, C2]
    assert res.plan.index_id == "index3"
    assert res.plan.filter_fields == [FieldFilter("t0", "aaa", FilterOp.GT)]
    assert res.plan.reversed
    paged = indexed.query_paged(
        "collection-1~", sort=[SortBy("a", True)], size=2, filter='b < 50 and a > "aaa"'
    )
    assert paged.items == [C3, C2]
    assert paged.selects[1]["filters"] == [
        FieldFilter("t0", "hello", FilterOp.EQ),
        FieldFilter("item_id", "item1", FilterOp.LT),
    ]


# -- beyond the 17: collection 404 + budget semantics ------------------------


def test_collection_404_semantics(store):
    with pytest.raises(NotFoundError):
        store.query("missing~")
    store.delete("collection-1~")
    with pytest.raises(NotFoundError):
        store.query("collection-1~")


def test_skip_budget_exceeded(store):
    # inexact-sort path fetches at most size+skipMax accepted rows and
    # errors when the budget fills (HyperbusAdapter.scala:183-187)
    with pytest.raises(QueryBudgetExceeded):
        store.query("collection-1~", sort=[SortBy("a")], filter="b >= 1", size=1, skip_max=1)
    # under budget: fine
    res = store.query("collection-1~", sort=[SortBy("a")], filter="b >= 1", size=1, skip_max=5)
    assert res.items == [C2]


def test_keyset_resume_from_container_sort_value(spark, tmp_path):
    """A page boundary landing on a row whose sort FIELD is a container
    (array/object — physical sort cell NULL) must resume through the
    NULL comparators, not the EvalError→FALSE fallback: the raw body
    value in the resume filter used to end pagination early and drop
    every row sorting after the NULL run."""
    s = DocumentStore(str(tmp_path / "kc"), spark=spark)
    s.put("kc~/i1", {"a": {"z": 1}, "b": 100})  # container ⇒ NULL cell
    s.put("kc~/i2", {"a": ["w"], "b": 1})       # container ⇒ NULL cell, rejected by filter
    s.put("kc~/i3", {"a": "m", "b": 50})
    s.put("kc~/i4", {"a": "n", "b": 5})         # rejected by filter
    s.put("kc~/i5", {"a": "o", "b": 77})
    s.create_index("kc~", "bya", [SortItem("a", "text", "asc")], None)

    # size=2 puts the first page boundary exactly on i2 (NULL-celled):
    # the resume filter must carry None for the sort column
    res = s.query_paged("kc~", filter="b > 10", sort=[SortBy("a")], size=2)
    assert [it["id"] for it in res.items] == ["i1", "i3"]
    # and the full accepted set survives paging (nothing after the NULL
    # run is dropped)
    res3 = s.query_paged("kc~", filter="b > 10", sort=[SortBy("a")], size=3)
    assert [it["id"] for it in res3.items] == ["i1", "i3", "i5"]


def test_query_paged_differential_random_bodies(spark, tmp_path):
    """Differential: for exact-sort queries, the keyset fetch loop must
    return exactly what the single-shot query path returns — over a
    seeded corpus mixing scalar/container/missing/None sort values
    (containers store NULL sort cells: the resume-filter class fixed
    this round) and text + desc-decimal indexes, across page sizes that
    force multi-select paging."""
    import random

    rng = random.Random(20260814)
    s = DocumentStore(str(tmp_path / "dp"), spark=spark)
    values = (
        lambda: rng.randint(0, 9),
        lambda: f"s{rng.randint(0, 5)}",
        lambda: {"z": rng.randint(0, 3)},
        lambda: [rng.randint(0, 3)],
        lambda: None,
        lambda: rng.random() > 0.5,
    )
    for i in range(40):
        body = {"b": rng.randint(0, 100)}
        if rng.random() > 0.25:  # some docs miss the sort field entirely
            body["a"] = rng.choice(values)()
        s.put(f"dp~/i{i:03d}", body)
    s.create_index("dp~", "by_a", [SortItem("a", "text", "asc")], None)
    s.create_index("dp~", "by_b", [SortItem("b", "decimal", "desc")], None)

    cases = []
    for _ in range(12):
        sort = rng.choice(
            [[], [SortBy("a")], [SortBy("b", descending=True)], [SortBy("id")]]
        )
        filt = rng.choice([None, "b > 30", "b <= 70", 'a = "s1"', "b > 10 and b < 90"])
        size = rng.choice([3, 5, 7, 40])
        cases.append((filt, sort, size))
    for filt, sort, size in cases:
        full = s.query("dp~", filter=filt, sort=sort or None, size=size)
        paged = s.query_paged("dp~", filter=filt, sort=sort or None, size=size)
        assert paged.items == full.items, (
            f"paged != single-shot for filter={filt!r} "
            f"sort={[(x.field_name, x.descending) for x in sort]} size={size}"
        )


def test_paged_exact_sort_query_compiles_no_residual(indexed, monkeypatch, routes, spark):
    """On the Spark route the paging loop judges each fetched row itself
    (_residual_ok) and rebuilds its source per page, so an exact-sort
    paged query with a filter compiles no residual into a Spark frame;
    query() and explain() still compile it, and explain still reports
    that it compiled. On the driver route none of them compiles a frame
    or runs a Spark job, and explain reports the same."""
    from hyper_storage_spark.store import query as qmod

    compiled = []
    real = qmod.apply_filter

    def spy(*args, **kwargs):
        compiled.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(qmod, "apply_filter", spy)
    routes.pin("spark")
    paged = indexed.query_paged("collection-1~", sort=[SortBy("a")], size=2, filter="b < 50")
    assert paged.plan.exact_sort and paged.items == [C2, C3]
    assert compiled == []
    assert indexed.query("collection-1~", sort=[SortBy("a")], size=2, filter="b < 50").items == [C2, C3]
    assert len(compiled) == 1
    plan = indexed.explain("collection-1~", filter="b < 50", sort=[SortBy("a")])
    assert plan.residual_compiled is True and len(compiled) == 2

    routes.pin("driver")
    compiled.clear()
    with routes.spark_work(spark) as work:
        paged = indexed.query_paged("collection-1~", sort=[SortBy("a")], size=2, filter="b < 50")
        res = indexed.query("collection-1~", sort=[SortBy("a")], size=2, filter="b < 50")
        plan = indexed.explain("collection-1~", filter="b < 50", sort=[SortBy("a")])
    assert paged.items == res.items == [C2, C3]
    assert paged.plan.driver and res.plan.driver and plan.driver
    assert plan.residual_compiled is True
    assert compiled == []
    assert work == {"py4j": 0, "jobs": 0}


def test_inexact_sort_page_does_not_depend_on_ingest_partitioning(spark, tmp_path):
    """An inexact-sort page reads its rows in item_id order, so items
    with tied sort values come out in the same order however the
    collection's files were split: a 1-partition and a 5-partition bulk
    ingest of the same rows give the same page."""
    rows = [(f"k{i:04d}", i % 3) for i in range(400)]
    pages = []
    for n, parts in (("one", 1), ("five", 5)):
        s = DocumentStore(str(tmp_path / n), spark=spark)
        df = spark.createDataFrame(rows, "k string, g int")
        s.ingest_collection(df.coalesce(1) if parts == 1 else df.repartition(parts), "t~", "k")
        res = s.query("t~", sort=[SortBy("g")], size=6)
        assert not res.plan.exact_sort
        pages.append([it["id"] for it in res.items])
    assert pages[0] == pages[1] == ["k0000", "k0003", "k0006", "k0009", "k0012", "k0015"]


def test_routing_by_source_bound(spark, tmp_path, routes, monkeypatch):
    """A source whose bucket holds more raw rows (base + delta) than
    DRIVER_MAX_ROWS is served by Spark; the driver route never decodes
    more rows than the bound."""
    from hyper_storage_spark.store import query as qmod
    from hyper_storage_spark.store.storage import Storage

    routes.pin("driver")
    bound = 6
    monkeypatch.setattr(qmod, "DRIVER_MAX_ROWS", bound)
    read = []
    real = Storage.bucket_rows

    def spy(self, table, bucket, filters=None):
        out = real(self, table, bucket, filters)
        read.append((table, len(out)))
        return out

    monkeypatch.setattr(Storage, "bucket_rows", spy)
    s = DocumentStore(str(tmp_path / "rb"), spark=spark)
    for i in range(bound):
        s.put(f"rb~/i{i}", {"a": i})
    s.create_index("rb~", "bya", [SortItem("a", "decimal", "asc")], None)
    idef = s.index_defs("rb~")[0]
    want = [{"a": i, "id": f"i{i}"} for i in range(bound)]

    read.clear()
    res = s.query("rb~", sort=[SortBy("a")], size=bound)
    assert res.plan.index_id == "bya" and res.plan.driver and res.items == want
    assert (idef.storage_table, bound) in read
    assert all(n <= bound for _, n in read)

    s.put("rb~/i0", {"a": 0})  # one delta row: 7 raw rows, 6 merged
    assert sum(s.storage.bucket_shape(idef.storage_table, 0)[1:]) == bound + 1
    read.clear()
    res = s.query("rb~", sort=[SortBy("a")], size=bound)
    assert res.plan.index_id == "bya" and not res.plan.driver and res.items == want
    assert idef.storage_table not in {t for t, _ in read}
    assert s.explain("rb~", sort=[SortBy("a")]).driver is False

    # the base table routes on the collection's content bucket
    assert s.query("rb~", filter='id = "i3"').plan.driver
    s.put("rb~/i9", {"a": 9})
    res = s.query("rb~", filter='id = "i3"')
    assert res.plan.table_name == "content" and not res.plan.driver and res.items == [want[3]]
