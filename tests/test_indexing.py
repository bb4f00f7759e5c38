"""Index lifecycle + incremental maintenance — IndexingSpec parity
(IndexingSpec.scala: build before/after data, write/patch/delete
propagation, decimal/desc table placement, index delete, collection
delete drops indexes)."""

import json
from decimal import Decimal

import pytest

from hyper_storage_spark.plans import SortBy, SortItem
from hyper_storage_spark.store import DocumentStore, NotFoundError

# every query below runs on the driver route and on the Spark route,
# which must give the same items, plans and select traces
pytestmark = pytest.mark.usefixtures("routes")


@pytest.fixture()
def store(spark, tmp_path):
    return DocumentStore(str(tmp_path / "idx"), spark=spark)


def index_items(store, uri, index_id):
    idef = next(d for d in store.index_defs(uri) if d.index_id == index_id)
    return sorted(
        (r["item_id"] for r in store.storage.bucket_rows(idef.storage_table, 0)),
    )


def test_index_created_after_data_backfills(store):
    store.put("col~/item1", {"a": "hello", "b": 100500})
    store.put("col~/item2", {"a": "goodbye", "b": 1})
    store.create_index("col~", "index1", [], "b > 10")
    assert index_items(store, "col~", "index1") == ["item1"]


def test_index_created_before_data_maintained_on_write(store):
    store.put("col~/seed", {"b": 0})  # collection must exist
    store.create_index("col~", "index1", [], "b > 10")
    store.put("col~/item1", {"a": "hello", "b": 100500})
    store.put("col~/item2", {"a": "goodbye", "b": 1})
    assert index_items(store, "col~", "index1") == ["item1"]


def test_patch_propagates_membership(store):
    store.put("col~/item1", {"a": "x", "b": 100})
    store.create_index("col~", "index1", [], "b > 10")
    assert index_items(store, "col~", "index1") == ["item1"]
    store.patch("col~/item1", {"b": 5})  # falls out of the filter
    assert index_items(store, "col~", "index1") == []
    store.patch("col~/item1", {"b": 50})  # back in
    assert index_items(store, "col~", "index1") == ["item1"]


def test_delete_item_removes_index_row(store):
    store.put("col~/item1", {"b": 100})
    store.put("col~/item2", {"b": 200})
    store.create_index("col~", "index1", [], "b > 10")
    store.delete("col~/item1")
    assert index_items(store, "col~", "index1") == ["item2"]


def test_sort_field_values_materialized_text_and_decimal(store):
    store.put("col~/item1", {"a": "hello", "b": 100500})
    store.put("col~/item2", {"a": "goodbye", "b": 1})
    store.create_index(
        "col~",
        "index2",
        [SortItem("a", "text", "asc"), SortItem("b", "decimal", "desc")],
        None,
    )
    idef = next(d for d in store.index_defs("col~") if d.index_id == "index2")
    assert idef.table_name == "index_content_ta0dd1"
    rows = {r["item_id"]: r for r in store.storage.bucket_rows(idef.storage_table, 0)}
    assert rows["item1"]["t0"] == "hello"
    assert rows["item1"]["d1"] == Decimal("100500")
    assert rows["item2"]["t0"] == "goodbye"
    assert rows["item2"]["d1"] == Decimal("1")


def test_desc_decimal_index_serves_sorted_query(store):
    store.put("col~/item1", {"a": "hello", "b": 100500})
    store.put("col~/item2", {"a": "goodbye", "b": 1})
    store.put("col~/item3", {"a": "way way", "b": 12})
    store.create_index("col~", "bdesc", [SortItem("b", "decimal", "desc")], None)
    res = store.query("col~", sort=[SortBy("b", True)], size=10)
    assert [i["b"] for i in res.items] == [100500, 12, 1]
    assert res.plan.index_id == "bdesc"
    assert res.plan.table_name == "index_content_dd0"
    # reversed scan of the desc index serves the asc query
    res2 = store.query("col~", sort=[SortBy("b")], size=10)
    assert [i["b"] for i in res2.items] == [1, 12, 100500]
    assert res2.plan.index_id == "bdesc"
    assert res2.plan.reversed


def test_filtered_query_without_sort_returns_index_clustering_order(store):
    """Reference parity: a filtered query with NO explicit sort that
    routes to an MV comes back in the index table's clustering order
    (sort columns per DDL asc/desc, then item_id) — not item_id order."""
    store.put("col~/item1", {"b": 100500})
    store.put("col~/item2", {"b": 1})
    store.put("col~/item3", {"b": 12})
    # a FILTERED index wins a filter-only query via implication (+20)
    store.create_index("col~", "bpos", [SortItem("b", "decimal", "desc")], "b > 0")
    res = store.query("col~", filter="b > 0", size=10)
    assert res.plan.index_id == "bpos"
    assert [i["b"] for i in res.items] == [100500, 12, 1]  # DDL desc order


def test_missing_sort_field_is_null_and_sorts(store):
    store.put("col~/item1", {"a": "x", "b": 5})
    store.put("col~/item2", {"b": 7})  # no `a`
    store.create_index("col~", "bya", [SortItem("a", "text", "asc")], None)
    idef = next(d for d in store.index_defs("col~") if d.index_id == "bya")
    rows = {r["item_id"]: r for r in store.storage.bucket_rows(idef.storage_table, 0)}
    assert rows["item2"]["t0"] is None


def test_delete_index(store):
    store.put("col~/item1", {"b": 100})
    store.create_index("col~", "index1", [], "b > 10")
    store.delete_index("col~", "index1")
    assert store.index_defs("col~") == []
    with pytest.raises(NotFoundError):
        store.delete_index("col~", "index1")


def test_collection_delete_drops_indexes(store):
    store.put("col~/item1", {"b": 100})
    store.create_index("col~", "index1", [], "b > 10")
    idef = next(d for d in store.index_defs("col~"))
    store.delete("col~")
    assert store.index_defs("col~") == []
    assert store.storage.files(idef.storage_table) == []
    with pytest.raises(NotFoundError):
        store.query("col~")


def test_invalid_filter_expression_rejected(store):
    store.put("col~/x", {"b": 1})
    with pytest.raises(ValueError):
        store.create_index("col~", "bad", [], '1 / 0 > "a"')


def test_conflicting_index_id_rejected(store):
    store.put("col~/x", {"b": 1})
    store.create_index("col~", "index1", [], None)
    with pytest.raises(ValueError):
        store.create_index("col~", "index1", [], None)


def test_eval_error_rows_excluded_from_index(store):
    # filter references a missing/badly-typed field ⇒ excluded, not error
    # (IndexLogic.scala:81-87)
    store.put("col~/item1", {"b": 100})
    store.put("col~/item2", {"c": "no b here"})
    store.put("col~/item3", {"b": "not a number"})
    store.create_index("col~", "index1", [], "b > 10")
    assert index_items(store, "col~", "index1") == ["item1"]


def test_spark_backfill_matches_driver_backfill(store):
    from hyper_storage_spark.plans import SortBy

    for i in range(20):
        store.put(f"col~/item{i:02d}", {"a": f"v{i % 5}", "b": i * 10})
    store.create_index(
        "col~",
        "drv",
        [SortItem("a", "text", "asc"), SortItem("b", "decimal", "desc")],
        "b > 30",
        use_spark=False,
    )
    store.create_index(
        "col~",
        "spk",
        [SortItem("a", "text", "asc"), SortItem("b", "decimal", "desc")],
        "b > 30",
        use_spark=True,
    )

    def rows_of(index_id):
        idef = next(d for d in store.index_defs("col~") if d.index_id == index_id)
        return sorted(
            (r["item_id"], r["t0"], r["d1"])
            for r in store.storage.bucket_rows(idef.storage_table, 0)
        )

    assert rows_of("drv") == rows_of("spk")
    assert len(rows_of("spk")) == 16  # items with b > 30


def test_explain_surface(store):
    from hyper_storage_spark.plans import SortBy

    store.put("col~/x", {"a": "p", "b": 1})
    store.create_index("col~", "bya", [SortItem("a", "text", "asc")], None)
    plan = store.explain("col~", sort=[SortBy("a")])
    assert plan.index_id == "bya" and plan.table_name == "index_content_ta0"
    plan2 = store.explain("col~", filter='id = "x"')
    assert plan2.index_id is None and plan2.filter_fields[0].name == "item_id"


def test_background_index_chunked_build(store):
    """IndexManager/PendingIndexWorker analog: background create
    registers INDEXING + a pending row; process_pending_indexes drives
    the build in bounded keyset chunks; the index flips NORMAL only
    when the scan completes, then serves queries."""
    for i in range(7):
        store.put(f"bg~/i{i}", {"a": f"v{i:02d}"})
    store.create_index("bg~", "bya", [SortItem("a", "text", "asc")], None, background=True)

    from hyper_storage_spark.plans.model import STATUS_INDEXING as _IDX0

    idef = next(d for d in store.index_defs("bg~") if d.index_id == "bya")
    assert idef.status == _IDX0
    pend = store.pending_indexes()
    assert len(pend) == 1 and pend[0]["last_item_id"] == ""

    # chunk 1 of 3 (chunk_size=3): watermark advances, still INDEXING
    assert store.process_pending_indexes(chunk_size=3) == 1
    pend = store.pending_indexes()
    assert pend and pend[0]["last_item_id"] == "i2"
    from hyper_storage_spark.plans.model import STATUS_INDEXING as _IDX
    assert next(d for d in store.index_defs("bg~") if d.index_id == "bya").status == _IDX

    # live write during the build is maintained incrementally
    store.put("bg~/i1", {"a": "UPDATED"})

    while store.pending_indexes():
        assert store.process_pending_indexes(chunk_size=3) >= 0
    from hyper_storage_spark.plans.model import STATUS_NORMAL as _N
    assert next(d for d in store.index_defs("bg~") if d.index_id == "bya").status == _N

    res = store.query("bg~", sort=[SortBy("a")], size=10)
    assert res.plan.index_id == "bya"
    assert [i["a"] for i in res.items] == ["UPDATED"] + [f"v{i:02d}" for i in (0, 2, 3, 4, 5, 6)]


def test_background_index_retry_on_failure(store, monkeypatch):
    """A failing chunk re-arms the 60 s retry timer instead of
    completing or poisoning the tick (PendingIndexWorker retry)."""
    store.put("rt~/x", {"a": 1})
    store.create_index("rt~", "idx", [SortItem("a", "decimal", "asc")], None, background=True)

    calls = {"n": 0}
    real = store._backfill_chunk

    def flaky(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected backfill failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(store, "_backfill_chunk", flaky)
    t0 = 1_000_000
    assert store.process_pending_indexes(now_ms=t0) == 0  # failed → no progress
    p = store.pending_indexes()[0]
    assert p["retry_count"] == 1 and p["next_retry_at"] == t0 + store.INDEX_RETRY_MS
    # before the timer: not eligible
    assert store.process_pending_indexes(now_ms=t0 + 1000) == 0
    # after the timer: succeeds and completes
    assert store.process_pending_indexes(now_ms=p["next_retry_at"] + 1) == 1
    assert store.pending_indexes() == []


def test_background_index_concurrency_cap(store):
    """At most max_concurrent builds progress per tick."""
    store.put("c1~/x", {"a": 1})
    store.put("c2~/x", {"a": 1})
    store.create_index("c1~", "i1", [SortItem("a", "decimal", "asc")], None, background=True)
    store.create_index("c2~", "i2", [SortItem("a", "decimal", "asc")], None, background=True)
    assert store.process_pending_indexes(max_concurrent=1) == 1
    assert len(store.pending_indexes()) == 1
    assert store.process_pending_indexes(max_concurrent=1) == 1
    assert store.pending_indexes() == []


def test_desc_index_ties_page_by_item_id_asc(spark, tmp_path):
    """A desc-DDL index column scanned FORWARD still pages ties by the
    implicit trailing item_id ASC (sort_by_with_id's defIdSort): the
    physical order and the least-rows resume op must agree, or keyset
    paging re-fetches rows inside a tie group (duplicates) or skips
    them."""
    from hyper_storage_spark.plans.model import SortBy, SortItem
    from hyper_storage_spark.store import DocumentStore

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    # 12 items over 3 tie groups on 'a'
    for i in range(12):
        store.put(f"c~/i{i:02d}", {"a": i % 3})
    store.create_index("c~", "idx_a_desc", [SortItem("a", "decimal", "desc")])

    res = store.query_paged("c~", sort=[SortBy("a", descending=True)], size=5)
    assert res.plan.index_id == "idx_a_desc" and not res.plan.reversed
    ids = [b["id"] for b in store.query("c~", sort=[SortBy("a", descending=True)], size=100).items]
    # full scan: a desc, ties by id asc
    expected = sorted((f"i{i:02d}" for i in range(12)),
                      key=lambda s: (-(int(s[1:]) % 3), s))
    assert ids == expected
    # paged prefix == unpaged prefix, no duplicates across the loop
    assert [b["id"] for b in res.items] == expected[:5]


def test_spark_backfill_same_index_id_on_two_collections(spark, tmp_path):
    """Backfill staging dirs are keyed by the physical table (collection
    + index): the same index_id on two collections — routine with
    template indexes — must not overwrite the other's committed files."""
    from hyper_storage_spark.plans.model import SortBy, SortItem
    from hyper_storage_spark.store import DocumentStore

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    for c in ("x~", "y~"):
        for i in range(4):
            store.put(f"{c}/i{i}", {"a": i})
    store.create_index("x~", "idx", [SortItem("a", "decimal", "asc")], use_spark=True)
    store.create_index("y~", "idx", [SortItem("a", "decimal", "asc")], use_spark=True)
    for c in ("x~", "y~"):
        res = store.query(c, sort=[SortBy("a")], size=10)
        assert res.plan.index_id == "idx", c
        assert [b["a"] for b in res.items] == [0, 1, 2, 3], c


def test_keyset_paging_survives_null_sort_values(spark, tmp_path):
    """Items missing the indexed field store NULL sort cells (sorted
    NULLS-FIRST asc); pages resuming from inside or past the NULL run
    must not drop rows (the old '' literal matched neither NULLs nor
    anything else)."""
    from hyper_storage_spark.plans.model import SortBy, SortItem
    from hyper_storage_spark.store import DocumentStore

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    for i in range(6):
        store.put(f"nk~/m{i}", {"other": i})  # no 'a': NULL sort value
    for i in range(6):
        store.put(f"nk~/v{i}", {"a": i})
    store.create_index("nk~", "idx_a", [SortItem("a", "decimal", "asc")])

    full = [b["id"] for b in store.query("nk~", sort=[SortBy("a")], size=50).items]
    assert len(full) == 12
    paged = [
        b["id"] for b in store.query_paged("nk~", sort=[SortBy("a")], size=4).items
    ]
    # first page of the paged loop must be a prefix of the full scan
    assert paged == full[:4]


def test_unpushable_filter_values_do_not_crash(spark, tmp_path):
    """Array literals and type-mismatched constants against an indexed
    sort column must not crash the pushed-filter build — rows whose
    cells could still satisfy the predicate stay for the residual."""
    from hyper_storage_spark.plans.model import SortBy, SortItem
    from hyper_storage_spark.store import DocumentStore

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    store.put("uf~/x", {"tags": [1, 2], "n": 5})
    store.put("uf~/y", {"tags": [3], "n": 7})
    store.create_index("uf~", "idx_t", [SortItem("tags", "text", "asc")])
    store.create_index("uf~", "idx_n", [SortItem("n", "decimal", "asc")])

    got = store.query("uf~", filter="tags = [1,2]", sort=[SortBy("tags")], size=10)
    assert [b["id"] for b in got.items] == ["x"]
    got = store.query("uf~", filter='n = "abc"', sort=[SortBy("n")], size=10)
    assert got.items == []


def test_has_index_routing_is_sound(spark, tmp_path):
    """The corrected has-widening: an MV filtered by `x has A` serves a
    query `x has B` only when B ⊇ A — the reference's direction routed
    queries to MVs missing rows."""
    from hyper_storage_spark.plans.model import SortBy, SortItem
    from hyper_storage_spark.store import DocumentStore

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    store.put("hs~/a", {"x": [1, 2], "r": 1})
    store.put("hs~/b", {"x": [1, 2, 3], "r": 2})
    store.create_index(
        "hs~", "idx_has", [SortItem("r", "decimal", "asc")], filter_by="x has [1,2]"
    )
    # narrower query routes to the wider MV and sees complete rows
    res = store.query("hs~", filter="x has [1,2,3]", sort=[SortBy("r")], size=10)
    assert res.plan.index_id == "idx_has"
    assert [b["id"] for b in res.items] == ["b"]
    # an MV filtered by the SUPERSET must not serve the subset query
    store.create_index(
        "hs~", "idx_sup", [SortItem("r", "decimal", "asc")], filter_by="x has [1,2,3]"
    )
    res = store.query("hs~", filter="x has [1,2]", sort=[SortBy("r")], size=10)
    assert res.plan.index_id != "idx_sup"
    assert [b["id"] for b in res.items] == ["a", "b"]


def test_full_rebuild_flip_pinned_against_concurrent_write(spark, tmp_path):
    """A per-item write landing between the full rebuild's content
    snapshot and its manifest flip must NOT have its freshly-maintained
    MV row overwritten (review r12): the flip is pinned on the index
    table's committed file list, conflicts, and re-stages from the
    post-write content — so the backfilled index includes the
    concurrent item."""
    from hyper_storage_spark.store import DocumentStore

    store = DocumentStore(str(tmp_path / "pin"), spark=spark)
    store.put("col~/item1", {"b": 100})
    store.put("col~/item2", {"b": 5})
    # an independent writer handle on the same root — contends only via
    # the storage manifest, exactly like a second process
    writer = DocumentStore(store.storage.root, spark=spark)

    staged = {"n": 0}
    orig = store._index_rows_df

    def hooked(idef, content_df):
        # fires after the content snapshot is pinned, before the flip:
        # the classic stage/flip window
        if staged["n"] == 0:
            staged["n"] += 1
            writer.put("col~/item3", {"b": 300})
        return orig(idef, content_df)

    store._index_rows_df = hooked
    try:
        store.create_index("col~", "index1", [], "b > 10", use_spark=True)
    finally:
        store._index_rows_df = orig
    # the hook ran (the window was exercised) and the concurrent item
    # survived the flip
    assert staged["n"] == 1
    assert index_items(store, "col~", "index1") == ["item1", "item3"]
    # and the index keeps serving writes afterwards
    store.put("col~/item4", {"b": 400})
    assert index_items(store, "col~", "index1") == ["item1", "item3", "item4"]


def test_full_rebuild_converges_via_delta_catchup(spark, tmp_path):
    """review r12: sustained writes during a full Spark backfill must
    not force repeated FULL rebuilds (the naive retry loses that race
    up to WRITE_CAS_RETRIES times and then raises) — every retry
    re-extracts only the items whose revision moved since the previous
    staging, and the merged flip still lands the exact index."""
    from hyper_storage_spark.store import DocumentStore

    store = DocumentStore(str(tmp_path / "cu"), spark=spark)
    for i in range(6):
        store.put(f"col~/item{i}", {"b": 100 + i})
    writer = DocumentStore(store.storage.root, spark=spark)

    calls = []
    orig = store._index_rows_df

    def hooked(idef, content_df):
        # the frame is file-pinned at construction, so this count is
        # the number of items THIS round actually re-extracts
        calls.append(content_df.count())
        if len(calls) == 1:
            writer.put("col~/item6", {"b": 300})  # new item, in filter
            writer.put("col~/item0", {"b": 5})  # falls OUT of the filter
        elif len(calls) == 2:
            writer.put("col~/item1", {"b": 999})  # rewrite, stays in
        return orig(idef, content_df)

    store._index_rows_df = hooked
    try:
        store.create_index("col~", "index1", [], "b > 10", use_spark=True)
    finally:
        store._index_rows_df = orig

    # one full extraction, then O(delta) catch-ups: {item0, item6},
    # then {item1} — never a second full rebuild
    assert calls == [6, 2, 1]
    assert index_items(store, "col~", "index1") == [
        "item1", "item2", "item3", "item4", "item5", "item6",
    ]
    # the catch-up kept non-members out (item0 left the filter mid-build)
    store.put("col~/item7", {"b": 700})
    assert index_items(store, "col~", "index1") == [
        "item1", "item2", "item3", "item4", "item5", "item6", "item7",
    ]


def test_query_paged_shrinks_past_eq_prefix(spark, tmp_path):
    """review r12: with an EQ query filter on a sort PREFIX, the keyset
    shrink must widen the next sort field when a range exhausts —
    query_paged previously passed the resume-only filter count where
    the reference's shrink convention expects the merged count, landed
    below start_index, got an empty resume, and silently truncated."""
    from hyper_storage_spark.plans.model import SortBy, SortItem
    from hyper_storage_spark.store import DocumentStore

    store = DocumentStore(str(tmp_path / "kp"), spark=spark)
    for i in range(1, 7):
        store.put(f"kp~/x{i}", {"a": "x", "b": i, "flag": i % 2})
    for i in range(7, 10):
        store.put(f"kp~/y{i}", {"a": "y", "b": i, "flag": 1})
    store.create_index(
        "kp~", "by_ab",
        [SortItem("a", "text", "asc"), SortItem("b", "decimal", "asc")],
        None,
    )
    res = store.query_paged(
        "kp~", filter='a = "x" and flag = 1',
        sort=[SortBy("a"), SortBy("b")], size=3,
    )
    assert [int(b["b"]) for b in res.items] == [1, 3, 5]
    assert len(res.selects) >= 2  # the loop actually paged
