"""DocumentStore CRUD / merge-patch / revision / feed semantics —
ported from HyperStorageSpec, CollectionsSpec, IntegratedSpec (F3)."""

import pytest

from hyper_storage_spark.store import DocumentStore, NotFoundError


@pytest.fixture()
def store(spark, tmp_path):
    return DocumentStore(str(tmp_path / "store"), spark=spark)


def test_put_get_document(store):
    created, rev = store.put("abc/123", {"a": 10, "x": "hello"})
    assert created and rev == 1
    body, rev2 = store.get("abc/123")
    assert body == {"a": 10, "x": "hello"} and rev2 == 1


def test_put_strips_nulls(store):
    # {"text": ..., "null": null} stored without the null field
    store.put("res1", {"text": "Test resource value", "null": None})
    body, _ = store.get("res1")
    assert body == {"text": "Test resource value"}


def test_scalar_body_document(store):
    # bodies need not be objects (IntegratedSpec.scala:115)
    store.put("scalar-doc", "Hello")
    body, _ = store.get("scalar-doc")
    assert body == "Hello"


def test_put_replaces_and_bumps_revision(store):
    store.put("doc1", {"a": 1})
    created, rev = store.put("doc1", {"b": 2})
    assert not created and rev == 2
    body, rev2 = store.get("doc1")
    assert body == {"b": 2} and rev2 == 2


def test_merge_patch(store):
    # F3: patch base {"text1":"abc","text2":"klmn"} with
    # {"text1":"efg","text2":null,"text3":"zzz"}
    store.put("patched", {"text1": "abc", "text2": "klmn"})
    store.patch("patched", {"text1": "efg", "text2": None, "text3": "zzz"})
    body, rev = store.get("patched")
    assert body == {"text1": "efg", "text3": "zzz"} and rev == 2


def test_null_patch_event_flow(store):
    store.put("npdoc", {"a": "1", "b": "2", "c": "3"})
    store.patch("npdoc", {"b": None})
    body, _ = store.get("npdoc")
    assert body == {"a": "1", "c": "3"}
    # feed event carries the raw patch (IntegratedSpec null-patch flow)
    ev = [e for e in store.feed_events() if e["method"] == "feed:patch"]
    assert len(ev) == 1 and ev[0]["body"] == '{"b": null}'


def test_patch_missing_404(store):
    with pytest.raises(NotFoundError):
        store.patch("nope", {"a": 1})


def test_patch_after_delete_404(store):
    store.put("gone", {"a": 1})
    store.delete("gone")
    with pytest.raises(NotFoundError):
        store.patch("gone", {"a": 2})
    with pytest.raises(NotFoundError):
        store.get("gone")


def test_delete_missing_404(store):
    with pytest.raises(NotFoundError):
        store.delete("never-existed")


def test_collection_items_share_revision_counter(store):
    # CollectionsSpec.scala:60-79: rev 1 then 2 across two items
    _, r1 = store.put("collection-1~/item1", {"a": "hello"})
    _, r2 = store.put("collection-1~/item2", {"a": "goodbye"})
    assert (r1, r2) == (1, 2)
    _, rev = store.get("collection-1~/item1")
    assert rev == 2  # static revision is shared


def test_item_body_gets_id_injected(store):
    store.put("col~/item1", {"a": 1})
    body, _ = store.get("col~/item1")
    assert body["id"] == "item1"


def test_post_generates_monotonic_ids(store):
    p1, _ = store.post("col2~", {"x": 1})
    p2, _ = store.post("col2~", {"x": 2})
    id1, id2 = p1.split("/")[-1], p2.split("/")[-1]
    assert id1 < id2  # sortable, insertion-ordered
    body, _ = store.get(p1)
    assert body["x"] == 1 and body["id"] == id1


def test_item_delete_removes_row_and_bumps_revision(store):
    store.put("col3~/a", {"v": 1})
    store.put("col3~/b", {"v": 2})
    rev = store.delete("col3~/a")
    assert rev == 3
    with pytest.raises(NotFoundError):
        store.get("col3~/a")
    body, rev2 = store.get("col3~/b")
    assert body["v"] == 2 and rev2 == 3


def test_feed_events_published_with_revision(store):
    store.put("feeddoc", {"a": 1})
    store.patch("feeddoc", {"b": 2})
    store.delete("feeddoc")
    evs = [e for e in store.feed_events() if e["document_uri"] == "feeddoc"]
    assert [(e["method"], e["revision"]) for e in evs] == [
        ("feed:put", 1),
        ("feed:patch", 2),
        ("feed:delete", 3),
    ]


def test_atomic_snapshot_isolation(store):
    # a reader holding the old manifest never sees a half-commit
    store.put("iso~/x", {"v": 1})
    files_before = store.storage.files("content")
    store.put("iso~/y", {"v": 2})
    # old snapshot files still exist and are readable
    import pyarrow.parquet as pq

    rows = [r for f in files_before for r in pq.read_table(f).to_pylist()]
    assert any(r["item_id"] == "x" for r in rows)


def test_bulk_ingest_collection(spark, tmp_path, sf_dir):
    from hyper_storage_spark.sources import load_table
    from hyper_storage_spark.plans import SortBy
    from pyspark.sql import functions as F

    store = DocumentStore(str(tmp_path / "bulk"), spark=spark)
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "item", F.lpad(F.col("doc_id").cast("string"), 10, "0")
    )
    store.ingest_collection(docs, "docs~", "item")
    n = docs.count()
    # point read through the normal API
    body, rev = store.get("docs~/0000000001")
    assert body["doc_id"] == 1 and body["id"] == "0000000001" and rev == 1
    # query through the planner
    res = store.query("docs~", sort=[SortBy("id")], size=3)
    assert [i["doc_id"] for i in res.items] == [0, 1, 2]
    # per-item API keeps working on top of the bulk data
    store.put("docs~/zzz-extra", {"doc_id": -1})
    res2 = store.query("docs~", sort=[SortBy("id", True)], size=1)
    assert res2.items[0]["id"] == "zzz-extra" and res2.revision == 2
    # double ingest is refused
    import pytest as _pytest

    with _pytest.raises(ValueError):
        store.ingest_collection(docs, "docs~", "item")


def test_ingest_collection_keeps_documents_sharing_its_bucket(spark, tmp_path):
    """Bulk-loading a collection whose content bucket already holds
    other documents keeps their rows: the documents and the ingested
    items all read back."""
    store = DocumentStore(str(tmp_path / "s"), spark=spark)
    docs = [f"doc{i:02d}" for i in range(30)]
    for d in docs:
        store.put(d, {"d": d})
    assert any(store._bucket(d) == store._bucket("bulk~") for d in docs)
    df = spark.createDataFrame([(f"i{i:02d}", i) for i in range(50)], "item string, n long")
    assert store.ingest_collection(df, "bulk~", "item") == 1
    for d in docs:
        assert store.get(d) == ({"d": d}, 1)
    assert store.get("bulk~/i07") == ({"item": "i07", "n": 7, "id": "i07"}, 1)
    assert sorted(i["n"] for i in store.query("bulk~", size=100).items) == list(range(50))


def test_vacuum_removes_superseded_staged_directories(spark, tmp_path, monkeypatch):
    """A Spark-staged directory keeps _SUCCESS and .crc files besides its
    parquet files. Once none of its parquet files is referenced, vacuum
    removes them all and then the directory, so only referenced staged
    directories remain."""
    import glob
    import os

    store = DocumentStore(str(tmp_path / "s"), spark=spark)
    df = spark.createDataFrame([(f"i{i:02d}", i) for i in range(20)], "item string, n long")
    store.ingest_collection(df, "bulk~", "item")
    for k in range(1, 4):
        store.merge_collection(df.withColumn("n", df.n + k), "bulk~", "item")

    def staged_dirs() -> set:
        pattern = os.path.join(store.storage.root, "data", "*", "*")
        return {p for p in glob.glob(pattern) if os.path.isdir(p) and store.storage.is_staged(p)}

    assert len(staged_dirs()) == 4
    monkeypatch.setattr(DocumentStore, "STAGING_GRACE_S", 0.0)
    store.vacuum(grace_seconds=0, keep_versions=0)
    referenced = {
        os.path.dirname(p) for t in store.storage.tables() for p in store.storage.files(t)
    }
    assert staged_dirs() and staged_dirs() <= referenced
    assert store.get("bulk~/i05") == ({"item": "i05", "n": 8, "id": "i05"}, 4)


def test_collection_df_typed_view(store):
    store.put("team~/a", {"name": "ann", "score": 10})
    store.put("team~/b", {"name": "bob", "score": 20})
    df = store.collection_df("team~")
    rows = {r.item_id: (r.name, r.score, r.revision) for r in df.collect()}
    assert rows["a"][0] == "ann" and rows["b"][1] == 20
    # explicit schema + analytics on top
    from pyspark.sql import functions as F

    df2 = store.collection_df("team~", "name string, score long, id string")
    assert df2.agg(F.sum("score")).collect()[0][0] == 30


def test_vacuum_removes_superseded_files(store):
    for i in range(5):
        store.put("vdoc", {"n": i})
    # no concurrent writers in this test, so grace 0 is safe; the
    # default grace protects executor-staged files mid-batch.
    # keep_versions=0 forfeits time travel so superseded buckets are
    # reclaimable NOW (default retention pins them for SNAPSHOT_KEEP
    # flips — test_time_travel_* covers that behavior)
    before = store.vacuum(grace_seconds=0, keep_versions=0)
    assert before > 0
    body, rev = store.get("vdoc")  # current snapshot intact
    assert body == {"n": 4} and rev == 5
    assert store.vacuum(grace_seconds=0, keep_versions=0) == 0
    assert store.vacuum() == 0  # default grace: young files untouched


def test_item_get_sees_collection_tombstone(store):
    # is_deleted is a STATIC column in the reference (db/scheme.cql:6):
    # deleting the collection hides its items from GET too
    store.put("tomb~/a", {"v": 1})
    store.delete("tomb~")
    with pytest.raises(NotFoundError):
        store.get("tomb~/a")


def test_point_read_pushes_filters_into_scan(store):
    """bucket_rows(filters=) must return only the matching rows from a
    multi-row-group bucket file (key-sorted + bounded row groups ⇒ a
    point GET decodes one row group, not the bucket)."""
    import json as _json

    from hyper_storage_spark.store.documents import CONTENT, CONTENT_SCHEMA

    # one bucket, many documents: bypass the per-write API and commit a
    # 20k-row bucket directly (>2 row groups at ROW_GROUP_SIZE=8192)
    rows = [
        {
            "document_uri": f"bulk{i:06d}",
            "item_id": "",
            "revision": 1,
            "body": _json.dumps({"n": i}),
            "is_deleted": False,
            "created_at": 1,
            "modified_at": 1,
        }
        for i in range(20000)
    ]
    store.storage.commit({(CONTENT, 3): rows}, {CONTENT: CONTENT_SCHEMA})
    got = store.storage.bucket_rows(CONTENT, 3, filters=[("document_uri", "==", "bulk010000")])
    assert len(got) == 1 and _json.loads(got[0]["body"]) == {"n": 10000}
    # and the parquet file really has multiple row groups to prune
    import pyarrow.parquet as _pq

    f = store.storage.files(CONTENT)[0]
    assert _pq.ParquetFile(f).num_row_groups >= 2


import pytest


@pytest.mark.parametrize("seed", [1234, 77, 2025])
def test_random_crud_sequence_against_model(spark, tmp_path, seed):
    """Model-based fuzz: a random interleaving of item put / patch /
    delete / collection query must agree with a plain-Python model
    using the SAME merge/null-strip helpers and the evaluator as the
    filter reference. Catches cross-op interactions (patch after
    delete, re-put after tombstone, index-maintained queries during
    mutation) that scenario tests enumerate one at a time."""
    import random

    from hyper_storage_spark.expression import evaluate_bool, parse
    from hyper_storage_spark.store import DocumentStore, NotFoundError
    from hyper_storage_spark.store.merge import filter_nulls, merge_patch

    rnd = random.Random(seed)
    store = DocumentStore(str(tmp_path / "fuzz"), spark=spark)
    model: dict[str, dict] = {}
    ids = [f"i{k}" for k in range(8)]

    def rand_body():
        b = {"a": rnd.randint(0, 20)}
        if rnd.random() < 0.6:
            b["s"] = rnd.choice(["x", "y", "zz"])
        if rnd.random() < 0.3:
            b["n"] = None  # null field: stripped on put, deletes on patch
        if rnd.random() < 0.3:
            b["o"] = {"inner": rnd.randint(0, 5), "gone": None}
        return b

    for step in range(40):
        op = rnd.choice(["put", "put", "patch", "delete", "query"])
        item = rnd.choice(ids)
        path = f"fuzz~/{item}"
        if op == "put":
            body = rand_body()
            store.put(path, body)
            model[item] = filter_nulls(body)
        elif op == "patch":
            patch = rand_body()
            try:
                store.patch(path, patch)
                assert item in model, f"step {step}: patch succeeded on missing {item}"
                model[item] = merge_patch(model[item], patch)
            except NotFoundError:
                assert item not in model, f"step {step}: patch 404 on existing {item}"
        elif op == "delete":
            try:
                store.delete(path)
                assert item in model, f"step {step}: delete succeeded on missing {item}"
                del model[item]
            except NotFoundError:
                assert item not in model, f"step {step}: delete 404 on existing {item}"
        else:
            flt = rnd.choice([None, "a > 10", 's = "x"', "a > 5 and a < 15"])
            try:
                res = store.query("fuzz~", filter=flt, size=50)
            except NotFoundError:
                assert not model  # collection not created yet
                continue
            got = {i["id"]: {k: v for k, v in i.items() if k != "id"} for i in res.items}
            ast = parse(flt) if flt else None
            expected = {
                k: v
                for k, v in model.items()
                if ast is None or evaluate_bool(ast, v)
            }
            assert got == expected, (step, flt, got, expected)

    # final full read-back: every surviving item GETs with its model body
    for item, body in model.items():
        got_body, _rev = store.get(f"fuzz~/{item}")
        assert {k: v for k, v in got_body.items() if k != "id"} == body, item


@pytest.mark.parametrize("seed", [5, 901])
def test_random_crud_with_live_indexes_against_model(spark, tmp_path, seed):
    """Same model fuzz but with two indexes (sorted MV + filtered MV)
    created up front, so every query may route through an index that
    incremental maintenance must have kept exact through the whole
    put/patch/delete interleaving. A stale or phantom index row shows
    up as a query divergence."""
    import random

    from hyper_storage_spark.expression import evaluate_bool, parse
    from hyper_storage_spark.plans import SortBy, SortItem
    from hyper_storage_spark.store import DocumentStore, NotFoundError
    from hyper_storage_spark.store.merge import filter_nulls, merge_patch

    rnd = random.Random(seed)
    store = DocumentStore(str(tmp_path / "fuzzidx"), spark=spark)
    store.put("fz~/seed", {"a": 1})
    store.create_index("fz~", "by_a", [SortItem("a", "decimal", "asc")], None)
    store.create_index("fz~", "big_a", [], "a > 10")
    model: dict[str, dict] = {"seed": {"a": 1}}
    ids = [f"i{k}" for k in range(6)] + ["seed"]

    for step in range(30):
        op = rnd.choice(["put", "patch", "delete", "query", "query"])
        item = rnd.choice(ids)
        path = f"fz~/{item}"
        if op == "put":
            body = {"a": rnd.randint(0, 20), "s": rnd.choice(["x", "y"])}
            store.put(path, body)
            model[item] = filter_nulls(body)
        elif op == "patch":
            patch = {"a": rnd.randint(0, 20)}
            try:
                store.patch(path, patch)
                model[item] = merge_patch(model[item], patch)
            except NotFoundError:
                assert item not in model
        elif op == "delete":
            try:
                store.delete(path)
                del model[item]
            except NotFoundError:
                assert item not in model
        else:
            flt = rnd.choice(["a > 10", "a > 10 and a < 18", None])
            sort = rnd.choice([None, [SortItem("a", "decimal", "asc")]])
            sort_by = [SortBy("a")] if sort else None
            res = store.query("fz~", filter=flt, sort=sort_by, size=50)
            got = {i["id"] for i in res.items}
            ast = parse(flt) if flt else None
            expected = {
                k for k, v in model.items() if ast is None or evaluate_bool(ast, v)
            }
            assert got == expected, (step, flt, sorted(got), sorted(expected))
            if sort_by:
                # ORDER check: an index-routed result's physical order
                # must equal the in-memory collection ordering — a
                # divergence here is the index returning rows in its
                # own order, not the query's
                from hyper_storage_spark.store.query import _collection_ordering_sort

                model_rows = [dict(v, id=k) for k, v in model.items() if k in expected]
                want = [r["id"] for r in _collection_ordering_sort(model_rows, sort_by)]
                got_order = [i["id"] for i in res.items]
                # ties on 'a' may order differently; compare the sort keys
                key_of = {k: model[k].get("a") for k in expected}
                assert [key_of[i] for i in got_order] == [key_of[i] for i in want], (
                    step, flt, got_order, want,
                )


def test_commit_drop_and_recreate_keeps_recreated_content(spark, tmp_path):
    """Drops apply before registrations in one commit: a table dropped
    and re-created in the same flip must keep the new content."""
    import pyarrow as pa

    from hyper_storage_spark.store.storage import Storage, write_bucket_file

    st = Storage(str(tmp_path / "s"), n_buckets=4)
    schema = pa.schema([("k", pa.string())])
    st.commit({("t", 0): [{"k": "old"}]}, {"t": schema})
    # files: stage a new file and drop+recreate in one flip
    staged = st.staged_bucket_file("t", 0)
    write_bucket_file([{"k": "new"}], schema, staged)
    st.commit({}, {}, files={"t": {0: [staged]}}, drop_tables=["t"])
    assert [r["k"] for r in st.bucket_rows("t", 0)] == ["new"]
    # same ordering in the row-level commit
    st.commit({("t", 0): [{"k": "newer"}]}, {"t": schema}, drop_tables=["t"])
    assert [r["k"] for r in st.bucket_rows("t", 0)] == ["newer"]


def test_overlay_recreate_after_drop_and_filter_ops(tmp_path):
    import pyarrow as pa

    from hyper_storage_spark.store.storage import OverlayStorage, Storage

    base = Storage(str(tmp_path / "s"), n_buckets=4)
    ov = OverlayStorage(base)
    schema = pa.schema([("k", pa.string()), ("n", pa.int64())])
    ov.commit({("t", 0): [{"k": "a", "n": 1}]}, {"t": schema})
    ov.commit({}, {}, drop_tables=["t"])
    assert ov.bucket_rows("t", 0) == []
    # re-creating the table in a later overlay commit revives it
    ov.commit({("t", 0): [{"k": "b", "n": 2}]}, {"t": schema})
    assert [r["k"] for r in ov.bucket_rows("t", 0)] == ["b"]
    # extended filter ops match the pyarrow DNF surface
    ov.commit({("u", 1): [{"k": "x", "n": 1}, {"k": "y", "n": 2}]}, {"u": schema})
    assert [r["k"] for r in ov.bucket_rows("u", 1, filters=[("k", "!=", "x")])] == ["y"]
    assert [r["k"] for r in ov.bucket_rows("u", 1, filters=[("k", "in", ["x"])])] == ["x"]


def test_manifest_meta_roundtrip(tmp_path):
    from hyper_storage_spark.store.storage import Storage

    st = Storage(str(tmp_path / "s"), n_buckets=4)
    assert st.get_meta("wm", -1) == -1
    st.set_meta("wm", 7)
    assert st.get_meta("wm") == 7
    st.commit({}, {}, meta={"wm": 9, "other": "x"})
    assert st.get_meta("wm") == 9 and st.get_meta("other") == "x"


def test_collection_recreate_resurrects_items_reference_parity(store):
    """Reference parity pin (NOT a bug): is_deleted is a Cassandra
    STATIC column (db/scheme.cql:6) and collection delete never purges
    item rows (PrimaryWorker.deleteContent writes one static tombstone;
    BackgroundContentTaskCompleter only drops indexes) — so a later
    write to the same collection flips the static back and PRE-DELETE
    items reappear. Faithful to the reference's data model; pinned so
    a future 'fix' knows what it is changing."""
    store.put("res~/a", {"v": 1})
    store.delete("res~")
    with pytest.raises(NotFoundError):
        store.get("res~/a")
    store.put("res~/b", {"v": 2})
    # the static flag flipped back: 'a' is visible again
    assert store.get("res~/a")[0] == {"v": 1, "id": "a"}
    ids = sorted(b["id"] for b in store.query("res~", size=10).items)
    assert ids == ["a", "b"]


def test_patch_can_override_id_reference_parity(store):
    """Reference parity pin: PATCH merges the raw body with NO id
    re-injection (PrimaryWorker appendId runs only for POST and
    item-PUT; the PATCH arm passes the request through) — so a patch
    can override the server-injected id. Pinned as parity; keyset
    consumers derive resume values from the body, so overriding id is
    a client footgun in the reference too."""
    store.put("pp~/x", {"a": 1})
    store.patch("pp~/x", {"id": "zzz"})
    assert store.get("pp~/x")[0]["id"] == "zzz"


def test_patch_merging_to_null_body_is_query_safe(store):
    """A PATCH whose merge result is Null stores body=None on a LIVE
    row (PrimaryWorker.mergeBody returns None for Null — reference
    parity); every read path must tolerate it instead of crashing."""
    store.put("nb~/x", {"a": 1})
    store.patch("nb~/x", None)  # non-object patch wins: merge → Null
    assert store.get("nb~/x")[0] is None
    store.patch("nb~/x", None)  # re-patching a null-body row must not crash
    assert store.get("nb~/x")[0] is None
    items = store.query("nb~", size=10).items
    assert items == [None]
    # filtered queries reject the null body (eval-error ⇒ false)
    assert store.query("nb~", filter="a = 1", size=10).items == []
    # the typed analytics view simply excludes field-less rows
    assert store.collection_df("nb~").count() == 0


def test_query_paged_resumes_past_null_body_row(store):
    """review r12: a live null-body row (PATCH merging to Null) landing
    as the LAST fetched row of a keyset page must not end pagination —
    the old loop broke on last_value None and silently truncated the
    result while query() over the same data kept going. The resume
    filters now derive from the row's PHYSICAL sort cells."""
    for i in range(1, 7):
        store.put(f"nbp~/x{i}", {"v": i})
    store.patch("nbp~/x3", None)  # live row, body=None, filter rejects it
    full = store.query("nbp~", filter="v > 0", size=10).items
    assert [b["v"] for b in full] == [1, 2, 4, 5, 6]
    paged = store.query_paged("nbp~", filter="v > 0", size=3)
    assert [b["v"] for b in paged.items] == [1, 2, 4]
    assert len(paged.selects) >= 2  # it paged PAST the null-body row


def test_manifest_cas_rejects_lost_flip(tmp_path):
    """Two stores on one root: a writer whose manifest snapshot went
    stale must have its flip REFUSED (ManifestConflict), not silently
    overwrite the concurrent winner's commit."""
    import pyarrow as pa

    from hyper_storage_spark.store.storage import ManifestConflict, Storage

    root = str(tmp_path / "cas")
    s1, s2 = Storage(root), Storage(root)
    schema = pa.schema([("k", pa.string())])
    s1.commit({("t", 0): [{"k": "a"}]}, {"t": schema})  # v1
    stale = s1._read_manifest()  # writer 1 snapshots at v1
    s2.commit({("t", 1): [{"k": "b"}]}, {"t": schema})  # v2 lands first
    stale["version"] = 2
    with pytest.raises(ManifestConflict):
        s1._cas_write_manifest(stale, expected_version=1)
    # the winner's flip survives intact
    assert s2.bucket_rows("t", 1) == [{"k": "b"}]
    assert s2._read_manifest()["version"] == 2


def test_manifest_cas_concurrent_writers_lose_no_flips(tmp_path):
    """Hammer: two writer threads (separate Storage instances — no
    shared in-process lock) each commit 12 times, retrying on
    ManifestConflict. Every flip must survive: final version equals the
    total commit count and every bucket is present."""
    import threading

    import pyarrow as pa

    from hyper_storage_spark.store.storage import ManifestConflict, Storage

    root = str(tmp_path / "hammer")
    Storage(root)  # init manifest once
    schema = pa.schema([("k", pa.int64())])
    n_each, conflicts = 12, []

    def writer(tid: int):
        st = Storage(root)
        for i in range(n_each):
            while True:
                try:
                    st.commit({(f"t{tid}", i): [{"k": i}]}, {f"t{tid}": schema})
                    break
                except ManifestConflict:
                    conflicts.append(tid)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    final = Storage(root)._read_manifest()
    assert final["version"] == 2 * n_each
    for tid in range(2):
        assert sorted(final["tables"][f"t{tid}"], key=int) == [str(i) for i in range(n_each)]


def test_compact_appends_merges_feed_files(spark, tmp_path):
    """Append-only tables grow one file per publication; compaction
    must merge them into one file, preserve every event and the
    publication order, survive subsequent appends, and leave the old
    files reclaimable by vacuum."""
    store = DocumentStore(str(tmp_path / "cstore"), spark=spark)
    for i in range(6):
        store.put(f"cdoc{i}", {"n": i})
    before = store.feed_events()
    assert len(store.storage.files("feed")) == 6

    merged = store.compact_appends()
    assert merged.get("feed") == 6
    assert len(store.storage.files("feed")) == 1
    assert store.feed_events() == before  # nothing lost, order preserved

    # appends after compaction land in new files and sort after
    store.put("cdoc6", {"n": 6})
    assert len(store.storage.files("feed")) == 2
    assert [e["document_uri"] for e in store.feed_events()] == [
        f"cdoc{i}" for i in range(7)
    ]
    # idempotent below the threshold
    assert store.compact_appends() == {"feed": 2}
    assert store.compact_appends() == {}

    # superseded append files are unreferenced → vacuum reclaims
    # (keep_versions=0: forfeit time travel for immediate reclaim)
    removed = store.vacuum(grace_seconds=0, keep_versions=0)
    assert removed > 0
    import glob as _glob
    import os as _os

    referenced = set()
    for t in store.storage.tables():
        referenced.update(_os.path.abspath(p) for p in store.storage.files(t))
    on_disk = {
        _os.path.abspath(p)
        for p in _glob.glob(str(tmp_path / "cstore" / "data" / "**" / "*.parquet"), recursive=True)
    }
    assert on_disk <= referenced


def test_time_travel_reads_historical_versions(spark, tmp_path):
    """Every manifest flip is snapshotted: at_version must read the
    store exactly as it was, current reads stay latest, writes through
    a snapshot are refused, and vacuum never reclaims files a retained
    snapshot still references."""
    store = DocumentStore(str(tmp_path / "tt"), spark=spark)
    store.put("doc", {"n": 1})
    v1 = store.storage._read_manifest()["version"]
    store.put("doc", {"n": 2})
    store.put("doc", {"n": 3})
    assert store.get("doc")[0] == {"n": 3}

    old = store.at_version(v1)
    body, rev = old.get("doc")
    assert body == {"n": 1} and rev == 1
    # snapshot is frozen: later writes don't leak in
    store.put("doc", {"n": 4})
    assert old.get("doc")[0] == {"n": 1}
    assert store.get("doc")[0] == {"n": 4}
    # read-only: every write verb refuses before touching disk
    for attempt in (
        lambda: old.put("doc", {"n": 9}),
        lambda: old.delete("doc"),
        lambda: old.patch("doc", {"x": 1}),
    ):
        with pytest.raises(RuntimeError, match="read-only"):
            attempt()

    # vacuum keeps snapshot-referenced files alive → old still reads
    store.vacuum(grace_seconds=0)
    assert old.get("doc")[0] == {"n": 1}

    # expired/unknown versions fail loudly with the available list
    with pytest.raises(ValueError, match="no snapshot"):
        store.at_version(99999)


def test_time_travel_retention_window_frees_files(spark, tmp_path, monkeypatch):
    """Past SNAPSHOT_KEEP flips, old snapshots prune and their
    superseded bucket files become vacuum-reclaimable."""
    from hyper_storage_spark.store.storage import Storage

    monkeypatch.setattr(Storage, "SNAPSHOT_KEEP", 4)
    store = DocumentStore(str(tmp_path / "ttr"), spark=spark)
    store.put("d", {"i": 0})
    v_first = store.storage._read_manifest()["version"]
    for i in range(1, 10):
        store.put("d", {"i": i})
    vers = store.storage.versions()
    assert len(vers) == 4 and v_first not in vers
    with pytest.raises(ValueError, match="no snapshot"):
        store.at_version(v_first)
    # the earliest retained snapshot still reads consistently after GC
    oldest = store.at_version(vers[0])
    before = oldest.get("d")[0]
    removed = store.vacuum(grace_seconds=0)
    assert removed > 0  # pre-window bucket versions reclaimed
    assert oldest.get("d")[0] == before


def test_collection_query_time_travel(spark, tmp_path):
    """Collection queries (the Spark read path) work against a
    snapshot: items added after the pinned version are invisible."""
    store = DocumentStore(str(tmp_path / "ttq"), spark=spark)
    store.put("c~/a", {"v": 1})
    store.put("c~/b", {"v": 2})
    v = store.storage._read_manifest()["version"]
    store.put("c~/c", {"v": 3})
    res_now = store.query("c~", size=10)
    res_then = store.at_version(v).query("c~", size=10)
    assert [i["id"] for i in res_now.items] == ["a", "b", "c"]
    assert [i["id"] for i in res_then.items] == ["a", "b"]
    assert res_then.revision == 2


def test_restore_version_zero_copy_rollback(spark, tmp_path):
    """restore_version re-points the current manifest at a retained
    snapshot's file list: data rolls back, version moves FORWARD,
    history (including the pre-rollback state) stays time-travelable,
    and manifest meta (stream watermarks) is preserved."""
    store = DocumentStore(str(tmp_path / "rb"), spark=spark)
    store.put("doc", {"state": "good"})
    good_v = store.storage._read_manifest()["version"]
    store.storage.set_meta("wm", 7)  # stands in for a stream watermark
    store.put("doc", {"state": "bad"})
    store.put("other", {"x": 1})
    assert store.get("doc")[0] == {"state": "bad"}

    new_v = store.restore_version(good_v)
    assert new_v == store.storage._read_manifest()["version"]
    assert store.get("doc")[0] == {"state": "good"}
    with pytest.raises(NotFoundError):
        store.get("other")  # didn't exist at good_v
    assert store.storage.get_meta("wm") == 7  # meta survives the rollback
    # the pre-rollback state is still reachable (rollback of a rollback)
    pre = new_v - 1
    assert store.at_version(pre).get("doc")[0] == {"state": "bad"}
    store.restore_version(pre)
    assert store.get("doc")[0] == {"state": "bad"}
    assert store.get("other")[0] == {"x": 1}


def test_rest_time_travel_get(spark, tmp_path):
    from hyper_storage_spark.rest import RestFacade

    store = DocumentStore(str(tmp_path / "rtt"), spark=spark)
    f = RestFacade(store)
    f.put("doc", {"n": 1})
    v = store.storage._read_manifest()["version"]
    f.put("doc", {"n": 2})
    assert f.get("doc").body == {"n": 2}
    old = f.get("doc", at_version=v)
    assert old.status == 200 and old.body == {"n": 1} and old.headers["revision"] == "1"
    assert f.handle("GET", "doc", at_version=v).body == {"n": 1}
    assert f.get("doc", at_version=999999).status == 400
    # collection time travel through the facade
    f.put("c~/i1", {"a": 1})
    v2 = store.storage._read_manifest()["version"]
    f.put("c~/i2", {"a": 2})
    assert len(f.get("c~", at_version=v2).body["_embedded"]["els"]) == 1
    assert len(f.get("c~").body["_embedded"]["els"]) == 2


def test_store_info_reports_layout(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "inf"), spark=spark)
    store.put("c~/a", {"v": 1})
    store.put("c~/b", {"v": 2})
    info = store.info()
    assert info["version"] == store.storage._read_manifest()["version"]
    assert info["n_buckets"] == 16
    assert info["version"] in info["retained_versions"]
    t = info["tables"]
    assert t["content"]["files"] >= 1 and t["content"]["bytes"] > 0
    assert t["content"]["buckets"] >= 1 and t["content"]["append_segments"] == 0
    assert t["feed"]["append_segments"] == 2  # one per publication
    # poll-safe: no data decode, works on a snapshot too
    old = store.at_version(info["retained_versions"][0])
    assert old.info()["version"] == info["retained_versions"][0]


def test_manifest_cas_across_processes(tmp_path):
    """The CAS fence must hold across real OS processes (the in-process
    lock can't help there): two subprocess writers hammer one store
    root with retry-on-conflict; every flip must survive."""
    import subprocess
    import sys

    root = str(tmp_path / "xproc")
    from hyper_storage_spark.store.storage import Storage

    Storage(root)  # init manifest once
    script = r"""
import sys
sys.path.insert(0, {repo!r})
import pyarrow as pa
from hyper_storage_spark.store.storage import ManifestConflict, Storage
tid, root = sys.argv[1], sys.argv[2]
st = Storage(root)
schema = pa.schema([("k", pa.int64())])
for i in range(8):
    while True:
        try:
            st.commit({{(f"t{{tid}}", i): [{{"k": i}}]}}, {{f"t{{tid}}": schema}})
            break
        except ManifestConflict:
            pass
print("done", tid)
""".format(repo="/root/repo")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, str(t), root],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for t in range(2)
    ]
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()[:500]
    final = Storage(root)._read_manifest()
    assert final["version"] == 16
    for tid in range(2):
        assert sorted(final["tables"][f"t{tid}"], key=int) == [str(i) for i in range(8)]


def test_store_admin_cli(spark, tmp_path):
    """The admin CLI end-to-end against a real root: info, versions,
    compact, rollback, vacuum — each prints one JSON line."""
    import json as _json
    import subprocess
    import sys

    root = str(tmp_path / "adm")
    store = DocumentStore(root, spark=spark)
    store.put("doc", {"s": 1})
    v_good = store.storage._read_manifest()["version"]
    store.put("doc", {"s": 2})

    def run(*args):
        p = subprocess.run(
            [sys.executable, "tools/store_admin.py", root, *args],
            capture_output=True, text=True, cwd="/root/repo", timeout=120,
        )
        assert p.returncode == 0, p.stderr[:500]
        return _json.loads(p.stdout.strip().splitlines()[-1])

    info = run("info")
    assert info["version"] == store.storage._read_manifest()["version"]
    assert "content" in info["tables"]
    assert run("versions")["versions"] == store.storage.versions()
    assert run("compact")["compacted"].get("feed") == 2
    rb = run("rollback", str(v_good))
    assert rb["new_version"] > v_good
    assert store.get("doc")[0] == {"s": 1}
    assert run("vacuum", "--grace", "0", "--keep", "0")["removed"] > 0
    assert store.get("doc")[0] == {"s": 1}  # current state intact after GC


def test_store_model_based_random_crud(spark, tmp_path):
    """Model-based differential: a seeded random PUT/PATCH/DELETE
    sequence over collections and plain documents, applied both to the
    real store and to a pure-Python model implementing the reference
    semantics (null-stripping, id injection, merge-patch null-deletion,
    shared gapless revision counter, tombstones, failed ops bump
    nothing). Periodic checkpoints compare bodies, 404s, revisions, and
    full collection listings."""
    import random

    from hyper_storage_spark.store.merge import filter_nulls, merge_patch

    rng = random.Random(99)
    store = DocumentStore(str(tmp_path / "mb"), spark=spark)
    colls = ["ca~", "cb~"]
    items = [f"i{n}" for n in range(6)]
    docs = ["plain1", "plain2"]
    # model: per-uri revision counter + live flag + items {id: body}
    model = {u: {"rev": 0, "live": False, "items": {}} for u in colls}
    for d in docs:
        model[d] = {"rev": 0, "live": False, "body": None}

    def rand_body():
        fields = {}
        for f in rng.sample(["a", "b", "c", "d"], rng.randint(1, 3)):
            fields[f] = rng.choice([rng.randint(0, 9), f"s{rng.randint(0,3)}", None, [1, 2], {"z": 1}])
        return fields

    def check():
        for u in colls:
            m = model[u]
            if not m["live"]:
                with pytest.raises(KeyError):
                    store.query(u, size=50)
                continue
            res = store.query(u, size=50)
            assert res.revision == m["rev"], u
            expected = [
                dict(m["items"][i], id=i) for i in sorted(m["items"])
            ]
            assert res.items == expected, u
        for d in docs:
            m = model[d]
            if not m["live"]:
                with pytest.raises(KeyError):
                    store.get(d)
            else:
                body, rev = store.get(d)
                assert body == m["body"] and rev == m["rev"], d

    for step in range(120):
        kind = rng.random()
        if kind < 0.55:  # collection item op
            u = rng.choice(colls)
            i = rng.choice(items)
            m = model[u]
            op = rng.choice(["put", "patch", "delete"])
            # reference tombstone semantics (PrimaryWorker.scala:282-328 +
            # the static is_deleted column): a collection delete MASKS the
            # collection but item rows stay; any subsequent item write
            # stores a static row with is_deleted=false, resurrecting the
            # collection WITH its masked items. Item patch/delete check
            # the ITEM row, not the document tombstone, so they succeed
            # on a masked collection too (and resurrect it).
            if op == "put":
                b = rand_body()
                store.put(f"{u}/{i}", b)
                m["rev"] += 1
                m["live"] = True
                m["items"][i] = filter_nulls(dict(b))
            elif op == "patch":
                if i in m["items"]:
                    p = rand_body()
                    store.patch(f"{u}/{i}", p)
                    m["rev"] += 1
                    m["live"] = True
                    merged = merge_patch(dict(m["items"][i], id=i), p)
                    merged.pop("id", None)
                    m["items"][i] = merged
                else:
                    with pytest.raises(KeyError):
                        store.patch(f"{u}/{i}", {"x": 1})
            else:
                if m["items"] is not None and i in m["items"] and (m["live"] or m["rev"] > 0):
                    store.delete(f"{u}/{i}")
                    m["rev"] += 1
                    m["live"] = True
                    del m["items"][i]
                else:
                    with pytest.raises(KeyError):
                        store.delete(f"{u}/{i}")
        elif kind < 0.85:  # plain document op
            d = rng.choice(docs)
            m = model[d]
            op = rng.choice(["put", "patch", "delete"])
            if op == "put":
                b = rand_body()
                store.put(d, b)
                m["rev"] += 1
                m["live"] = True
                m["body"] = filter_nulls(dict(b))
            elif op == "patch":
                if m["live"]:
                    p = rand_body()
                    store.patch(d, p)
                    m["rev"] += 1
                    m["body"] = merge_patch(m["body"], p)
                else:
                    with pytest.raises(KeyError):
                        store.patch(d, {"x": 1})
            else:
                if m["live"]:
                    store.delete(d)
                    m["rev"] += 1
                    m["live"] = False
                    m["body"] = None
                else:
                    with pytest.raises(KeyError):
                        store.delete(d)
        elif kind < 0.95:  # collection delete (tombstone + re-creatable)
            u = rng.choice(colls)
            m = model[u]
            if m["live"]:
                store.delete(u)
                m["rev"] += 1
                m["live"] = False
                # items stay masked, NOT purged (reference parity)
            else:
                with pytest.raises(KeyError):
                    store.delete(u)
        else:  # POST auto-id
            u = rng.choice(colls)
            m = model[u]
            path, rev = store.post(f"{u}", {"p": step})
            new_id = path.rsplit("/", 1)[-1]
            m["rev"] += 1
            m["live"] = True
            m["items"][new_id] = {"p": step}
            assert rev == m["rev"]
        if step % 24 == 23:
            check()
    check()


def test_time_travel_replays_model_history(spark, tmp_path):
    """History differential: after a random op sequence, EVERY retained
    snapshot version that coincides with a recorded post-op state must
    reproduce that state exactly through at_version — items, bodies,
    tombstone visibility, and the shared revision counter."""
    import copy
    import random

    from hyper_storage_spark.store.merge import filter_nulls, merge_patch

    rng = random.Random(4242)
    store = DocumentStore(str(tmp_path / "hist"), spark=spark)
    u = "h~"
    model = {"rev": 0, "live": False, "items": {}}
    history = []  # (manifest_version, model deep copy)

    for step in range(40):
        op = rng.choice(["put", "patch", "delete_item", "delete_coll"])
        i = f"i{rng.randint(0, 4)}"
        if op == "put":
            b = {"n": step, "x": rng.choice([None, "s", 3])}
            store.put(f"{u}/{i}", b)
            model["rev"] += 1
            model["live"] = True
            model["items"][i] = filter_nulls(dict(b))
        elif op == "patch" and i in model["items"]:
            p = {"n": -step}
            store.patch(f"{u}/{i}", p)
            model["rev"] += 1
            model["live"] = True
            merged = merge_patch(dict(model["items"][i], id=i), p)
            merged.pop("id", None)
            model["items"][i] = merged
        elif op == "delete_item" and i in model["items"] and model["rev"] > 0:
            store.delete(f"{u}/{i}")
            model["rev"] += 1
            model["live"] = True
            del model["items"][i]
        elif op == "delete_coll" and model["live"]:
            store.delete(u)
            model["rev"] += 1
            model["live"] = False
        else:
            continue
        history.append(
            (store.storage._read_manifest()["version"], copy.deepcopy(model))
        )

    retained = set(store.storage.versions())
    replayed = 0
    for version, m in history:
        if version not in retained:
            continue
        snap = store.at_version(version)
        if not m["live"]:
            with pytest.raises(KeyError):
                snap.query(u, size=50)
        else:
            res = snap.query(u, size=50)
            assert res.revision == m["rev"], version
            assert res.items == [dict(m["items"][i], id=i) for i in sorted(m["items"])], version
        replayed += 1
    assert replayed >= 8, f"only {replayed} historical states retained/checked"


def test_merge_collection_bulk_upsert(spark, tmp_path):
    """Bulk upsert into a live collection: replaced items take the new
    body, new items appear, untouched items and OTHER documents sharing
    the bucket survive, the shared revision bumps exactly once, and a
    NORMAL index reflects the merged values."""
    from pyspark.sql import functions as F

    from hyper_storage_spark.plans import SortBy, SortItem

    store = DocumentStore(str(tmp_path / "mc"), spark=spark)
    store.put("m~/a", {"v": 1})
    store.put("m~/b", {"v": 2})
    store.put("m~/c", {"v": 3})          # revision 3
    store.create_index("m~", "byv", [SortItem("v", "decimal", "asc")], None)

    batch = spark.createDataFrame([("b", 20), ("d", 40)], "item string, v long")
    rev = store.merge_collection(batch, "m~", "item")
    assert rev == 4

    assert store.get("m~/a") == ({"v": 1, "id": "a"}, 4)      # untouched, shared rev
    # bulk bodies carry every df column plus the injected id — the
    # ingest_collection convention
    assert store.get("m~/b")[0] == {"v": 20, "item": "b", "id": "b"}  # replaced
    assert store.get("m~/d")[0] == {"v": 40, "item": "d", "id": "d"}  # inserted
    res = store.query("m~", sort=[SortBy("v")], size=10)
    assert [i["id"] for i in res.items] == ["a", "c", "b", "d"]
    assert res.plan.index_id == "byv"  # index rebuilt and routed to
    # per-item API continues on top
    store.put("m~/e", {"v": 5})
    assert store.get("m~/e")[1] == 5

    with pytest.raises(NotFoundError):
        store.merge_collection(batch, "missing~", "item")
    with pytest.raises(ValueError):
        store.merge_collection(batch, "not-a-collection", "item")


def test_merge_collection_restarts_inflight_background_builds(spark, tmp_path):
    """A bulk merge must rewind in-flight background index builds:
    chunks materialized before the merge can hold replaced items'
    values, and the restarted keyset scan re-reads the merged content
    — the completed index must reflect the merge exactly."""
    from hyper_storage_spark.plans import SortItem

    store = DocumentStore(str(tmp_path / "mb2"), spark=spark)
    for i in range(8):
        store.put(f"bg~/i{i}", {"v": i})
    store.create_index("bg~", "byv", [SortItem("v", "decimal", "asc")], background=True)
    store.process_pending_indexes(chunk_size=3)  # materialize i0..i2 only
    assert store.pending_indexes()[0]["last_item_id"] == "i2"

    batch = spark.createDataFrame([("i1", 100), ("i9", 9)], "item string, v long")
    store.merge_collection(batch, "bg~", "item")
    assert store.pending_indexes()[0]["last_item_id"] == ""  # rewound

    while store.process_pending_indexes(chunk_size=3):
        pass
    idef = next(d for d in store.index_defs("bg~") if d.index_id == "byv")
    rows = {r["item_id"]: r for r in store.storage.bucket_rows(idef.storage_table, 0)}
    from decimal import Decimal

    assert rows["i1"]["d0"] == Decimal(100)  # pre-merge chunk value replaced
    assert "i9" in rows and len(rows) == 9


def test_merge_collection_time_travel_diff(spark, tmp_path):
    """at_version across a bulk merge gives the change-set view the
    bulk path (deliberately feed-less) relies on: pre-merge snapshot
    shows old values, current shows merged."""
    store = DocumentStore(str(tmp_path / "mtt"), spark=spark)
    store.put("tt~/x", {"v": 1})
    store.put("tt~/y", {"v": 2})
    v_pre = store.storage._read_manifest()["version"]
    batch = spark.createDataFrame([("x", 10), ("z", 30)], "item string, v long")
    store.merge_collection(batch, "tt~", "item")
    old = store.at_version(v_pre)
    assert old.get("tt~/x")[0] == {"v": 1, "id": "x"}
    with pytest.raises(KeyError):
        old.get("tt~/z")
    assert store.get("tt~/x")[0]["v"] == 10
    assert store.get("tt~/z")[0]["v"] == 30


def test_merge_collection_full_snapshot_mode(spark, tmp_path):
    """delete_missing=True: the batch IS the collection — absent items
    vanish in the same flip, present ones upsert, and the document
    tombstone path still 404s removed items."""
    store = DocumentStore(str(tmp_path / "snap"), spark=spark)
    store.put("s~/a", {"v": 1})
    store.put("s~/b", {"v": 2})
    store.put("s~/c", {"v": 3})
    batch = spark.createDataFrame([("a", 10), ("d", 40)], "item string, v long")
    rev = store.merge_collection(batch, "s~", "item", delete_missing=True)
    assert rev == 4
    assert sorted(i["id"] for i in store.query("s~", size=10).items) == ["a", "d"]
    assert store.get("s~/a")[0]["v"] == 10
    for gone in ("s~/b", "s~/c"):
        with pytest.raises(KeyError):
            store.get(gone)


def test_time_travel_survives_compaction_and_gc(spark, tmp_path):
    """Compaction rewrites the feed's file set; a retained snapshot
    pinned BEFORE compaction must still read the original append files
    after compaction + vacuum (snapshot refs pin them), and the
    current view reads the compacted file — same events either way."""
    store = DocumentStore(str(tmp_path / "ttc"), spark=spark)
    for i in range(4):
        store.put(f"c{i}", {"n": i})
    v = store.storage._read_manifest()["version"]
    events_before = store.feed_events()
    assert store.compact_appends()["feed"] == 4
    store.vacuum(grace_seconds=0)  # default retention: snapshot refs pinned
    old = store.at_version(v)
    assert old.feed_events() == events_before
    assert store.feed_events() == events_before
    assert len(old.storage.files("feed")) == 4   # pre-compaction file set
    assert len(store.storage.files("feed")) == 1


def test_truncate_feed_retention(spark, tmp_path):
    """Feed retention: events before the cutoff vanish in one flip,
    later events and subsequent publications survive, and vacuum
    (history dropped) reclaims the superseded log files."""
    import time as _time

    store = DocumentStore(str(tmp_path / "tf"), spark=spark)
    store.put("old1", {"a": 1})
    store.put("old2", {"a": 2})
    cutoff = int(_time.time() * 1000) + 1
    _time.sleep(0.005)
    store.put("new1", {"a": 3})
    removed = store.truncate_feed(older_than_ms=cutoff)
    assert removed == 2
    assert [e["document_uri"] for e in store.feed_events()] == ["new1"]
    store.put("new2", {"a": 4})  # appends keep working after truncation
    assert [e["document_uri"] for e in store.feed_events()] == ["new1", "new2"]
    assert store.truncate_feed(older_than_ms=0) == 0  # nothing below cutoff
    store.vacuum(grace_seconds=0, keep_versions=0)
    assert [e["document_uri"] for e in store.feed_events()] == ["new1", "new2"]


def test_vacuum_keep_more_than_existing_keeps_all(spark, tmp_path):
    """keep_versions LARGER than the number of retained snapshots must
    keep every snapshot (regression: the unclamped negative split point
    wrapped and deleted the OLDEST 2*len-K snapshots the caller asked
    to retain, then reclaimed their files)."""
    store = DocumentStore(str(tmp_path / "vkeep"), spark=spark)
    store.put("d", {"i": 0})
    v_first = store.storage._read_manifest()["version"]
    for i in range(1, 4):
        store.put("d", {"i": i})
    vers = store.storage.versions()
    assert len(vers) >= 4
    oldest = store.at_version(v_first)
    before = oldest.get("d")[0]
    # ask to keep MORE versions than exist: nothing may be pruned
    store.vacuum(grace_seconds=0, keep_versions=len(vers) + 6)
    assert store.storage.versions() == vers
    assert oldest.get("d")[0] == before
    # and a keep within range still prunes exactly the excess
    store.vacuum(grace_seconds=0, keep_versions=2)
    assert store.storage.versions() == vers[-2:]
    # negative keep is caller error, never a silent delete-everything
    with pytest.raises(ValueError, match="keep_versions"):
        store.vacuum(grace_seconds=0, keep_versions=-1)
    assert store.storage.versions() == vers[-2:]  # nothing was pruned


def test_stale_lock_break_single_winner(tmp_path):
    """A crashed writer's leftover lock file must not block anyone:
    the flip lock is a kernel flock (auto-released on process death),
    so an orphaned lock FILE carries no lock state — every writer
    proceeds and no flip is lost."""
    import os as _os
    import threading
    import time as _time

    import pyarrow as pa

    from hyper_storage_spark.store.storage import ManifestConflict, Storage

    root = str(tmp_path / "slock")
    st = Storage(root)
    schema = pa.schema([("k", pa.int64())])
    st.commit({("t", 0): [{"k": 0}]}, {"t": schema})  # v1
    # simulate a crashed writer: a lock file nobody will release,
    # backdated past the staleness window
    lockp = st._manifest_path + ".lock"
    with open(lockp, "w"):
        pass
    old = _time.time() - 60
    _os.utime(lockp, (old, old))

    def writer(tid: int):
        s = Storage(root)
        while True:
            try:
                s.commit({(f"t{tid}", 0): [{"k": tid}]}, {f"t{tid}": schema})
                return
            except ManifestConflict:
                continue

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    m = st._read_manifest()
    assert m["version"] == 5  # v1 + 4 contested commits, none lost
    for t in range(4):
        assert st.bucket_rows(f"t{t}", 0) == [{"k": t}]


def test_append_cas_retry_both_writers_land_across_processes(tmp_path):
    """Append-only commits retry internally on a lost CAS race: two
    subprocess appenders hammer one feed table WITHOUT caller-side
    retry loops — every append must land and neither process may see
    ManifestConflict."""
    import subprocess
    import sys

    from hyper_storage_spark.store.storage import Storage

    root = str(tmp_path / "xappend")
    Storage(root)  # init manifest once
    script = r"""
import sys
sys.path.insert(0, {repo!r})
import pyarrow as pa
from hyper_storage_spark.store.storage import Storage
tid, root = sys.argv[1], sys.argv[2]
st = Storage(root)
schema = pa.schema([("writer", pa.int64()), ("seq", pa.int64())])
for i in range(10):
    st.append("feed", [{{"writer": int(tid), "seq": i}}], schema)  # no retry here
print("done", tid)
""".format(repo="/root/repo")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, str(t), root],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for t in range(3)
    ]
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()[:800]
    st = Storage(root)
    rows = st.all_rows("feed")
    got = {(r["writer"], r["seq"]) for r in rows}
    assert got == {(w, i) for w in range(3) for i in range(10)}
    assert len(rows) == 30  # no duplicate registrations either
    assert st._read_manifest()["version"] == 30


def test_compact_append_retry_with_concurrent_appender(tmp_path):
    """compact_append_table retries on a lost CAS race by recomputing
    from the fresh manifest: force a conflict by appending between the
    compactor's read and its flip — compaction must succeed AND the
    interleaved append must survive."""
    import pyarrow as pa

    from hyper_storage_spark.store.storage import Storage

    root = str(tmp_path / "ccompact")
    st = Storage(root)
    schema = pa.schema([("seq", pa.int64())])
    for i in range(3):
        st.append("feed", [{"seq": i}], schema)

    # first CAS attempt loses: a peer append slips in via a patched
    # _read_manifest that appends AFTER the compactor reads
    real_read = st._read_manifest
    state = {"fired": False}

    def read_with_interloper():
        m = real_read()
        if not state["fired"]:
            state["fired"] = True
            Storage(root).append("feed", [{"seq": 99}], schema)
        return m

    st._read_manifest = read_with_interloper
    merged = st.compact_append_table("feed")
    st._read_manifest = real_read
    assert merged >= 3  # compaction happened despite the lost race
    rows = sorted(r["seq"] for r in st.all_rows("feed"))
    assert rows == [0, 1, 2, 99]  # interloper's append survived


def test_group_commit_concurrent_writers_serialize_correctly(spark, tmp_path):
    """8 threads hammer one collection through the plain put() API: the
    group-commit path must preserve single-writer semantics exactly —
    gapless shared revision counter 1..N, every item present, every
    feed event published exactly once in revision order."""
    import threading

    store = DocumentStore(str(tmp_path / "gc"), spark=spark)
    n_threads, per_thread = 8, 10

    def worker(t):
        for i in range(per_thread):
            store.put(f"gc~/{t:02d}-{i:04d}", {"t": t, "i": i})

    ts = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    n = n_threads * per_thread
    # shared static counter: gapless 1..N despite concurrency
    _, rev = store.get("gc~/00-0000")
    assert rev == n
    res = store.query("gc~", size=n + 10)
    assert len(res.items) == n
    evs = [e for e in store.feed_events() if e["document_uri"] == "gc~"]
    assert sorted(e["revision"] for e in evs) == list(range(1, n + 1))


def test_write_batch_one_flip_serial_semantics(spark, tmp_path):
    """write_batch applies ops in order against the evolving state in
    ONE staged flip that also carries the feed events and completion:
    later ops see earlier ones, failed ops report their exception
    without aborting the rest, and the manifest moves one version."""
    store = DocumentStore(str(tmp_path / "wb"), spark=spark)
    v0 = store.storage._read_manifest()["version"]
    out = store.write_batch(
        [
            ("put", "wb~/a", {"x": 1}),
            ("patch", "wb~/a", {"y": 2}),          # sees the put above
            ("patch", "wb~/missing", {"z": 3}),    # fails alone
            ("put", "wb~/b", {"x": 9}),
            ("delete", "wb~/a", None),
            ("patch", "other-doc", {"q": 1}),      # fails: never existed
        ]
    )
    assert out[0] == (True, 1)
    assert out[1] == (False, 2)
    assert isinstance(out[2], NotFoundError)
    assert out[3] == (True, 3)
    assert out[4] == 4  # delete returns the revision
    assert isinstance(out[5], NotFoundError)
    with pytest.raises(NotFoundError):
        store.get("wb~/a")
    assert store.get("wb~/b")[0] == {"x": 9, "id": "b"}
    assert store.storage._read_manifest()["version"] - v0 == 1
    evs = [(e["method"], e["revision"]) for e in store.feed_events()]
    assert evs == [
        ("feed:put", 1),
        ("feed:patch", 2),
        ("feed:put", 3),
        ("feed:delete", 4),
    ]


def test_write_batch_cross_document_and_collection_delete(spark, tmp_path):
    """Batch spanning documents in different buckets plus a collection
    delete (index-dropping completion path) composes in one flip set."""
    store = DocumentStore(str(tmp_path / "wbx"), spark=spark)
    from hyper_storage_spark.plans import SortItem

    store.put("dropme~/x", {"a": 1})
    store.create_index("dropme~", "by_a", [SortItem("a", "decimal", "asc")], None)
    out = store.write_batch(
        [
            ("put", "doc-one", {"v": 1}),
            ("put", "doc-two", {"v": 2}),
            ("delete", "dropme~", None),
            ("put", "doc-one", {"v": 3}),
        ]
    )
    assert out[0] == (True, 1) and out[1] == (True, 1)
    assert out[2] == 2  # dropme~ counter was at 1 from the put
    assert out[3] == (False, 2)
    with pytest.raises(NotFoundError):
        store.get("dropme~/x")
    assert store.get("doc-one")[0] == {"v": 3}
    assert store.index_defs("dropme~") == []


def test_store_admin_retention_command(spark, tmp_path):
    """The one-shot retention command: old feed events truncated by
    age, append tables compacted, unreferenced files vacuumed — one
    JSON line, suitable for cron."""
    import json as _json
    import subprocess
    import sys

    root = str(tmp_path / "admret")
    store = DocumentStore(root, spark=spark)
    for i in range(5):
        store.put("doc", {"n": i})
    n_events = len(store.feed_events())
    assert n_events == 5
    p = subprocess.run(
        [
            sys.executable, "tools/store_admin.py", root, "retention",
            "--feed-keep-ms", "0", "--grace", "0", "--keep", "0",
        ],
        capture_output=True, text=True, cwd="/root/repo", timeout=120,
    )
    assert p.returncode == 0, p.stderr[:400]
    out = _json.loads(p.stdout.strip().splitlines()[-1])
    assert out["feed_events_removed"] == n_events  # all older than "now"
    assert out["vacuum_removed"] > 0  # superseded buckets reclaimed
    # the store stays fully functional afterwards
    assert store.get("doc")[0] == {"n": 4}
    assert store.feed_events() == []
    # a second pass is a no-op
    p2 = subprocess.run(
        [sys.executable, "tools/store_admin.py", root, "retention",
         "--feed-keep-ms", "0", "--grace", "0", "--keep", "0"],
        capture_output=True, text=True, cwd="/root/repo", timeout=120,
    )
    out2 = _json.loads(p2.stdout.strip().splitlines()[-1])
    assert out2["feed_events_removed"] == 0


def test_write_batch_model_based_differential(spark, tmp_path):
    """Model-based differential for the batch path: a seeded random
    PUT/PATCH/DELETE sequence is applied through write_batch in random
    chunk sizes; per-op outcomes (created/revision or NotFoundError)
    and the final store state must match a pure-Python model applying
    the ops serially — batching must be semantically invisible."""
    import random

    from hyper_storage_spark.store.merge import filter_nulls, merge_patch

    rng = random.Random(7)
    store = DocumentStore(str(tmp_path / "mbb"), spark=spark)
    colls = ["ca~", "cb~"]
    items = [f"i{n}" for n in range(5)]
    docs = ["plain1", "plain2"]
    model = {u: {"rev": 0, "live": False, "items": {}} for u in colls}
    for d in docs:
        model[d] = {"rev": 0, "live": False, "body": None}

    def rand_body():
        return {
            f: rng.choice([rng.randint(0, 9), f"s{rng.randint(0, 3)}", None])
            for f in rng.sample(["a", "b", "c"], rng.randint(1, 2))
        }

    def model_apply(method, path, body):
        """Serial-semantics model step → expected write_batch outcome."""
        if "/" in path:
            u, i = path.split("/")
            m = model[u]
            if method == "put":
                created = i not in m["items"]
                m["rev"] += 1
                m["live"] = True
                m["items"][i] = filter_nulls(dict(body))
                return (created, m["rev"])
            if method == "patch":
                if i not in m["items"]:
                    return NotFoundError
                m["rev"] += 1
                m["live"] = True
                merged = merge_patch(dict(m["items"][i], id=i), body)
                merged.pop("id", None)
                m["items"][i] = merged
                return (False, m["rev"])
            if i not in m["items"] or (not m["live"] and m["rev"] == 0):
                return NotFoundError
            m["rev"] += 1
            m["live"] = True
            del m["items"][i]
            return m["rev"]
        m = model[path]
        is_coll = path.endswith("~")
        if method == "put":
            created = not m["live"]
            m["rev"] += 1
            m["live"] = True
            m["body"] = filter_nulls(dict(body))
            return (created, m["rev"])
        if method == "patch":
            if not m["live"]:
                return NotFoundError
            m["rev"] += 1
            m["body"] = merge_patch(m["body"], body)
            return (False, m["rev"])
        if not m["live"]:
            return NotFoundError
        m["rev"] += 1
        m["live"] = False
        if not is_coll:
            m["body"] = None
        return m["rev"]

    def gen_op():
        k = rng.random()
        if k < 0.6:
            u, i = rng.choice(colls), rng.choice(items)
            return (rng.choice(["put", "patch", "delete"]), f"{u}/{i}")
        if k < 0.9:
            return (rng.choice(["put", "patch", "delete"]), rng.choice(docs))
        return ("delete", rng.choice(colls))

    n_total = 140
    done = 0
    while done < n_total:
        chunk = rng.randint(1, 9)
        ops, expected = [], []
        for _ in range(chunk):
            method, path = gen_op()
            body = rand_body() if method != "delete" else None
            ops.append((method, path, body))
            expected.append(model_apply(method, path, body))
            done += 1
        out = store.write_batch(ops)
        for got, exp in zip(out, expected):
            if exp is NotFoundError:
                assert isinstance(got, NotFoundError), (got, exp)
            else:
                assert got == exp, (got, exp)

    # final-state equivalence
    for u in colls:
        m = model[u]
        if not m["live"]:
            with pytest.raises(KeyError):
                store.query(u, size=50)
        else:
            res = store.query(u, size=50)
            assert res.revision == m["rev"]
            assert res.items == [dict(m["items"][i], id=i) for i in sorted(m["items"])]
    for d in docs:
        m = model[d]
        if not m["live"]:
            with pytest.raises(KeyError):
                store.get(d)
        else:
            body, rev = store.get(d)
            assert body == m["body"] and rev == m["rev"]
    # feed: one event per successful op, gapless per document
    evs = store.feed_events()
    for u in colls + docs:
        revs = [e["revision"] for e in evs if e["document_uri"] == u]
        assert revs == list(range(1, model[u]["rev"] + 1)), u


def test_group_commit_flip_failure_fails_all_waiters_without_hanging(spark, tmp_path):
    """If the batch's manifest flip raises, EVERY op drained into that
    batch must surface the error to its caller — a drained op is
    applied by nobody else, so losing it would hang the caller's wait
    loop forever. The store must keep working afterwards."""
    import threading

    store = DocumentStore(str(tmp_path / "gcfail"), spark=spark)
    store.put("warm", {"x": 0})  # templates/manifest warm

    real_commit = store.storage.commit
    fail = {"on": True}

    def flaky_commit(*a, **kw):
        if fail["on"]:
            raise OSError("disk full (injected)")
        return real_commit(*a, **kw)

    store.storage.commit = flaky_commit
    errors, lock = [], threading.Lock()

    def writer(t):
        try:
            store.put(f"gc~/{t}", {"t": t})
        except OSError as e:
            with lock:
                errors.append(str(e))

    ts = [threading.Thread(target=writer, args=(t,)) for t in range(6)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in ts), "a waiter hung on a failed batch"
    assert len(errors) == 6 and all("disk full" in e for e in errors)
    # recovery: flips work again, state is consistent
    fail["on"] = False
    assert store.put("gc~/ok", {"fine": 1})[0] is True
    assert store.get("gc~/ok")[0] == {"fine": 1, "id": "ok"}


def test_per_item_writes_safe_across_processes(spark, tmp_path):
    """Round 7: the per-item write path is safe under MULTIPLE
    PROCESSES on one root — the staged version is pinned through the
    CAS (a foreign flip anywhere in the read-stage-flip window forces
    a re-stage), so two subprocess writers hammering the same document
    AND the same collection, with no caller-side retries, must
    serialize to gapless shared revisions with every write visible."""
    import subprocess
    import sys

    from hyper_storage_spark.store import DocumentStore

    root = str(tmp_path / "xitem")
    DocumentStore(root)  # init
    script = r"""
import sys
sys.path.insert(0, {repo!r})
from hyper_storage_spark.store import DocumentStore
tid, root = sys.argv[1], sys.argv[2]
store = DocumentStore(root)
for i in range(8):
    store.put(f"shared~/{{tid}}-{{i:03d}}", {{"w": int(tid), "i": i}})
    store.patch(f"shared~/{{tid}}-{{i:03d}}", {{"p": i}})
print("done", tid)
""".format(repo="/root/repo")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, str(t), root],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for t in range(2)
    ]
    for p in procs:
        out, err = p.communicate(timeout=180)
        assert p.returncode == 0, err.decode()[:800]

    store = DocumentStore(root, spark=spark)
    n_ops = 2 * 8 * 2  # 2 writers x 8 items x (put + patch)
    res = store.query("shared~", size=50)
    assert len(res.items) == 16
    # the shared static counter serialized every op: gapless 1..32
    assert res.revision == n_ops
    for item in res.items:
        assert item["p"] == item["i"]  # every patch applied on its put
    evs = [e for e in store.feed_events() if e["document_uri"] == "shared~"]
    assert sorted(e["revision"] for e in evs) == list(range(1, n_ops + 1))


def test_staging_window_foreign_flip_not_lost(spark, tmp_path):
    """A foreign writer can no longer flip inside another writer's
    read-stage-flip window at all: the whole window holds the
    cross-process manifest lock, so the foreign write is EXCLUDED
    mid-window and serializes after it — both writes survive
    (previously an interleaved flip was silently erased by the stale
    full-bucket rewrite; with the lock, the hazard is structurally
    impossible rather than retried)."""
    import threading

    from hyper_storage_spark.store import DocumentStore
    from hyper_storage_spark.store.documents import bucket_of

    root = str(tmp_path / "fflip")
    store = DocumentStore(root, spark=spark)
    store.put("seed", {"s": 0})

    # the lost-update shape needs BOTH documents in one CONTENT bucket
    # (the stale rewrite replaces whole buckets) — find a collider
    victim = "victim~"
    intruder = next(
        f"intruder{i}"
        for i in range(10_000)
        if bucket_of(f"intruder{i}", store.storage.n_buckets)
        == bucket_of(victim, store.storage.n_buckets)
    )

    real_commit = store.storage.commit
    state = {}

    def commit_with_interloper(*a, **kw):
        if "thread" not in state:
            # a foreign writer (separate Storage instance = separate
            # flock fd) starts mid-window: it must BLOCK on the lock
            t = threading.Thread(
                target=lambda: DocumentStore(root).put(intruder, {"v": 42})
            )
            state["thread"] = t
            t.start()
            t.join(timeout=0.4)
            state["excluded"] = t.is_alive()  # still waiting on our lock
        return real_commit(*a, **kw)

    store.storage.commit = commit_with_interloper
    created, rev = store.put(f"{victim}/x", {"a": 1})
    store.storage.commit = real_commit
    state["thread"].join(timeout=30)
    assert not state["thread"].is_alive()
    assert state["excluded"] is True  # the interloper could not flip mid-window
    assert (created, rev) == (True, 1)
    # BOTH writes visible once the lock serialized them
    assert store.get(intruder)[0] == {"v": 42}
    assert store.get(f"{victim}/x")[0] == {"a": 1, "id": "x"}


def test_crashed_lock_holder_releases_automatically(tmp_path):
    """A writer killed -9 while HOLDING the flip flock must not wedge
    the store: the kernel drops the flock with the process, so the next
    writer acquires immediately — no staleness heuristic, no window."""
    import signal
    import subprocess
    import sys
    import time as _time

    import pyarrow as pa

    from hyper_storage_spark.store.storage import Storage

    root = str(tmp_path / "crashlock")
    st = Storage(root)
    schema = pa.schema([("k", pa.int64())])
    st.commit({("t", 0): [{"k": 1}]}, {"t": schema})
    # a subprocess takes the flock and then hangs (simulated crash-hold)
    holder = subprocess.Popen(
        [sys.executable, "-c", f"""
import fcntl, os, time
fd = os.open({st._manifest_path + '.lock'!r}, os.O_CREAT | os.O_WRONLY)
fcntl.flock(fd, fcntl.LOCK_EX)
print("held", flush=True)
time.sleep(60)
"""],
        stdout=subprocess.PIPE,
    )
    assert holder.stdout.readline().strip() == b"held"
    holder.send_signal(signal.SIGKILL)
    holder.wait()
    t0 = _time.time()
    st.commit({("t", 1): [{"k": 2}]}, {"t": schema})  # must not time out
    assert _time.time() - t0 < Storage.LOCK_TIMEOUT_S / 2
    assert st.bucket_rows("t", 1) == [{"k": 2}]


def test_flock_excludes_other_threads_on_same_instance(tmp_path):
    """Same-process, same-Storage-instance threads must serialize like
    processes do: while one thread holds write_lock, another thread's
    flip (the streaming micro-batch shape — a feed append on the same
    instance while a user thread holds a write window) must WAIT, not
    re-enter via the depth counter (regression: per-instance counting
    let any second thread straight into the critical section)."""
    import threading
    import time as _time

    import pyarrow as pa

    from hyper_storage_spark.store.storage import Storage

    root = str(tmp_path / "tlock")
    st = Storage(root)
    schema = pa.schema([("k", pa.int64())])
    st.commit({("t", 0): [{"k": 0}]}, {"t": schema})
    order = []
    entered = threading.Event()
    release = threading.Event()

    def holder():
        with st.write_lock():
            entered.set()
            order.append("holder-in")
            release.wait(timeout=30)
            _time.sleep(0.05)
            order.append("holder-out")

    def appender():
        entered.wait(timeout=30)
        st.append("feed", [{"k": 1}], schema)  # same instance, other thread
        order.append("appender-done")

    t1 = threading.Thread(target=holder)
    t2 = threading.Thread(target=appender)
    t1.start(); t2.start()
    entered.wait(timeout=30)
    _time.sleep(0.1)  # give the appender time to (wrongly) slip in
    release.set()
    t1.join(timeout=30); t2.join(timeout=30)
    assert order == ["holder-in", "holder-out", "appender-done"]
    assert len(st.all_rows("feed")) == 1


def test_writer_killed_midstream_recovers_consistently(spark, tmp_path):
    """SIGKILL a writer process at an arbitrary point mid-write-stream,
    with no recovery pass after it: whatever prefix of ops became
    durable must be fully consistent — gapless feed 1..R (a write's
    completion rides in its own flip, so there is nothing to re-drive),
    every feed:put readable, no write record beside the feed, and the
    store accepts new writes. Holds for ANY kill point by construction."""
    import json as _json
    import signal
    import subprocess
    import sys

    from hyper_storage_spark.store import DocumentStore

    root = str(tmp_path / "kcrash")
    DocumentStore(root)
    script = r"""
import sys
sys.path.insert(0, "/root/repo")
from hyper_storage_spark.store import DocumentStore
store = DocumentStore(sys.argv[1])
for i in range(10_000):
    store.put(f"kdoc~/{i:05d}", {"i": i})
    print(i, flush=True)
"""
    w = subprocess.Popen(
        [sys.executable, "-c", script, root], stdout=subprocess.PIPE
    )
    # let a handful land, then kill WHILE it is mid-op
    seen = 0
    for line in w.stdout:
        seen = int(line)
        if seen >= 7:
            break
    w.send_signal(signal.SIGKILL)
    w.wait()

    store = DocumentStore(root, spark=spark)
    res = store.query("kdoc~", size=20_000)
    n_items = len(res.items)
    assert n_items >= seen + 1  # everything acknowledged is durable
    # gapless feed; one put event per durable item
    evs = [e for e in store.feed_events() if e["document_uri"] == "kdoc~"]
    assert sorted(e["revision"] for e in evs) == list(range(1, res.revision + 1))
    assert res.revision == n_items
    assert {e["item_id"] for e in evs} == {f"{i:05d}" for i in range(n_items)}
    for e in evs:
        assert _json.loads(e["body"])["i"] == int(e["item_id"])
    # every durable write has its feed event, the one record of its
    # transaction: no write table beside the feed exists
    assert "transactions" not in store.storage.tables()
    # and the store is fully writable afterwards
    created, rev = store.put("kdoc~/post-crash", {"ok": True})
    assert created and rev == res.revision + 1


def test_diff_versions_add_change_remove(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "diffv"), spark=spark)
    store.put("c~/a", {"x": 1})
    store.put("c~/b", {"x": 2})
    v0 = store.storage._read_manifest()["version"]
    store.put("c~/a", {"x": 10})      # changed
    store.put("c~/c", {"x": 3})       # added
    store.delete("c~/b")              # removed
    store.put("other/z", {"y": 1})    # unrelated plain document
    changes = store.diff_versions(v0)
    by_key = {(c["document_uri"], c["item_id"]): c for c in changes}
    assert by_key[("c~", "a")]["change"] == "changed"
    # collection revisions are a per-collection counter: the re-put of
    # item a lands at a LATER revision than v0's, whatever its number
    assert by_key[("c~", "a")]["rev_to"] > by_key[("c~", "a")]["rev_from"]
    assert by_key[("c~", "c")]["change"] == "added"
    assert by_key[("c~", "c")]["rev_from"] is None
    assert by_key[("c~", "b")]["change"] == "removed"
    assert by_key[("c~", "b")]["rev_to"] is None
    assert ("other/z", "") in by_key
    # collection filter, and the sorted-order contract
    only_c = store.diff_versions(v0, uri="c~")
    assert {(c["document_uri"], c["item_id"]) for c in only_c} == {
        ("c~", "a"), ("c~", "b"), ("c~", "c")
    }
    assert only_c == sorted(only_c, key=lambda c: (c["document_uri"], c["item_id"]))
    # explicit v_to: diff of a version against itself is empty
    v1 = store.storage._read_manifest()["version"]
    assert store.diff_versions(v1, v1) == []
    # CLI face prints one JSON line with the same changes
    import json as _json
    import subprocess, sys as _sys

    proc = subprocess.run(
        [_sys.executable, "tools/store_admin.py", str(tmp_path / "diffv"),
         "diff", str(v0), "--uri", "c~"],
        capture_output=True, text=True, check=True,
    )
    cli = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert cli["n_changes"] == 3


def test_multi_writer_chaos_soak_invariants():
    """Sustained cross-process chaos (tools/soak.py): 3 processes × 2
    threads of mixed put/patch/delete/write_batch plus concurrent
    vacuum/compact, with a SIGKILL loop murdering workers mid-write —
    then the invariant sweep: gapless feed revisions 1..R per
    collection, content↔feed parity, the fsync'd op log as an
    at-least-once lower bound, no dangling manifest references, every
    logged transaction id resolving to its op, and a state-preserving
    closing vacuum. A longer run (4×3×120 s) is recorded in SCALE.md
    §chaos soak."""
    import tempfile

    import tools.soak as soak

    out = soak.run_soak(
        tempfile.mkdtemp(prefix="soak_t_"), procs=3, threads=2, seconds=15, kill_every=4.0
    )
    assert out["kills"] >= 1, "the kill loop never fired — not a chaos test"
    assert out["worker_errors"] == [] and out["n_op_exceptions"] == 0
    assert out["failures"] == []
    assert out["ops_logged"] > 0 and sum(out["revisions"].values()) > 0


def test_store_admin_health(spark, tmp_path):
    import json as _json
    import subprocess
    import sys

    root = str(tmp_path / "hl")
    store = DocumentStore(root, spark=spark)
    for i in range(8):
        store.put(f"c~/i{i}", {"a": i})
    store.delete("c~/i0")
    p = subprocess.run(
        [sys.executable, "tools/store_admin.py", root, "health"],
        capture_output=True, text=True, cwd="/root/repo", timeout=120,
    )
    assert p.returncode == 0, p.stderr[:500]
    out = _json.loads(p.stdout.strip().splitlines()[-1])
    c = out["collections"]["c~"]
    # item delete is ROW REMOVAL + revision bump (reference semantics),
    # not a tombstone — tombstones stay for document-level deletes
    assert c["live_items"] == 7 and c["tombstones"] == 0 and c["revision"] == 9
    assert c["feed_bounded"] and c["feed_covers_all_revisions"]
    assert "wal_incomplete" not in out
    assert out["orphan_files"] == 0 and out["ok"] is True


def test_store_admin_health_ok_on_bulk_loaded_store(spark, tmp_path):
    """Bulk paths bump the revision counter WITHOUT feed events by
    design — health must not page on a perfectly healthy bulk-ingested
    store (the round-8 review false-alarm finding)."""
    import json as _json
    import subprocess
    import sys

    from pyspark.sql import functions as F

    root = str(tmp_path / "hlb")
    store = DocumentStore(root, spark=spark)
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lpad(F.col("id").cast("string"), 4, "0").alias("item")
    )
    store.ingest_collection(df, "bulk~", "item")
    store.put("bulk~/extra", {"k": 99})  # one per-item write on top
    p = subprocess.run(
        [sys.executable, "tools/store_admin.py", root, "health"],
        capture_output=True, text=True, cwd="/root/repo", timeout=120,
    )
    assert p.returncode == 0, p.stderr[:500]
    out = _json.loads(p.stdout.strip().splitlines()[-1])
    c = out["collections"]["bulk~"]
    assert c["live_items"] == 11 and c["feed_bounded"]
    assert not c["feed_covers_all_revisions"]  # informational, not gating
    assert out["ok"] is True


def test_chaos_soak_with_rollup_readers(spark):
    """Invariant 5 (round 9): concurrent store.aggregate() readers and
    time-travel re-reads run THROUGH the kill loop — every comparison
    where the refreshed MV is provably at the pinned snapshot's
    revision must equal a direct base aggregation over the same
    snapshot, the final quiesced refresh must compare (and hold), and
    every retained historical answer must re-read identically after
    the kills and concurrent vacuums. The longer run (4x3x120 s) is
    recorded in SCALE.md §chaos soak."""
    import tempfile

    import tools.soak as soak

    out = soak.run_soak(
        tempfile.mkdtemp(prefix="soak_r_"), procs=2, threads=2, seconds=20,
        kill_every=5.0, spark=spark,
    )
    assert out["kills"] >= 1, "the kill loop never fired — not a chaos test"
    assert out["failures"] == [] and out["worker_errors"] == []
    rr = out["rollup_reader"]
    # the final quiesced pass guarantees at least one real comparison
    assert rr["comparisons"] >= 1
    assert rr["history_replayed"] >= 1
    # invariant 6 (round 10): the REST face ran through the kill loop —
    # writes landed, revisions stayed monotonic (else failures above),
    # and the final quiesced aggregate matched the shadow model
    rd = out["rest_driver"]
    assert rd["writes"] >= 1
    assert rd["aggregate_checks"] >= 1


def test_vacuum_spares_fresh_staging_files(spark, tmp_path):
    """The round-9 soak failure: a concurrent short-grace vacuum ate
    ANOTHER process's staged-but-not-yet-committed MV files, so the
    subsequent commit registered dangling references. Unreferenced
    files under a staging marker now get a floor grace
    (STAGING_GRACE_S) regardless of how aggressive the caller's
    grace is — the staging-to-commit window of a foreign writer must
    never race the reclaimer."""
    import os

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    store.put("d", {"a": 1})
    # a Spark-staged frame (bulk content, an index or rollup build)
    # whose writer has not flipped yet
    staged = store.storage.stage_frame(spark.range(3), "rollup_x")
    assert staged
    # plain unreferenced garbage with no staging name IS reclaimed at grace 0
    loose = tmp_path / "store" / "data" / "content" / "b0000-v99999999-dead.parquet"
    loose.write_bytes(b"orphan")
    store.vacuum(grace_seconds=0.0, keep_versions=0)
    assert all(os.path.exists(p) for p in staged), "fresh staging file must survive any grace"
    assert not loose.exists(), "unmarked orphans still reclaim immediately"


def test_vacuum_spares_executor_staged_stream_file(tmp_path):
    """The other staging name: a bucket file an executor writes for a
    stream batch (Storage.staged_bucket_file) exists before the
    driver's flip registers it, so a concurrent zero-grace vacuum in
    another process must not reclaim it in between (the
    dangling-reference window STAGING_GRACE_S exists to close). A
    table whose own name starts like a staging name gets no floor."""
    import os

    import pyarrow as pa

    from hyper_storage_spark.store.storage import write_bucket_file

    store = DocumentStore(str(tmp_path / "store"))
    store.put("d", {"a": 1})
    schema = pa.schema([("k", pa.string())])
    staged = store.storage.staged_bucket_file("content", 0)
    write_bucket_file([{"k": "x"}], schema, staged)
    look_alike = os.path.join(store.storage.table_dir("staged-t"), "b0000-v99999999-dead.parquet")
    write_bucket_file([{"k": "y"}], schema, look_alike)
    store.vacuum(grace_seconds=0.0, keep_versions=0)
    assert os.path.exists(staged), "staged stream file must get the floor grace"
    assert not os.path.exists(look_alike), "a table name never marks its files as staged"


def _bulk_write_with_foreign_put(spark, tmp_path, path, same_bucket):
    """Run one bulk write on a store holding c~/1 and c~/2 (none for
    ingest) while a second handle on the same root puts a document just
    before the first bulk flip, into c~'s bucket or into another one.
    Returns (store, foreign uri, flip outcomes)."""
    from hyper_storage_spark.store.storage import ManifestConflict, bucket_of

    store = DocumentStore(str(tmp_path / "s"), spark=spark)
    n = store.storage.n_buckets
    foreign = next(
        u for u in (f"other{i}" for i in range(1000)) if (bucket_of(u, n) == bucket_of("c~", n)) == same_bucket
    )
    if path != "ingest":
        store.put("c~/1", {"v": 1, "ts": "2020-01-01 00:00:00"})
        store.put("c~/2", {"v": 2, "ts": "2030-01-01 00:00:00"})
    writer = DocumentStore(store.storage.root)
    real_flip = store._flip_staged
    outcomes = []

    def flip(*a, **k):
        if not outcomes:
            assert writer.put(foreign, {"f": 1}) == (True, 1)
        try:
            v = real_flip(*a, **k)
        except ManifestConflict:
            outcomes.append("conflict")
            raise
        outcomes.append("flip")
        return v

    store._flip_staged = flip
    try:
        if path == "ingest":
            df = spark.createDataFrame([("1", 1), ("2", 2)], "item string, v long")
            assert store.ingest_collection(df, "c~", "item") == 1
        elif path == "merge":
            batch = spark.createDataFrame([("3", 3)], "item string, v long")
            assert store.merge_collection(batch, "c~", "item") == 3
        else:
            assert store.expire_items("c~", "ts", "2025-01-01 00:00:00", "v long, ts string") == (1, 3)
    finally:
        del store._flip_staged
    assert store.get(foreign) == ({"f": 1}, 1)  # the foreign write survived
    if path != "ingest":
        assert store.get("c~/2")[0]["v"] == 2 and store.get("c~/2")[1] == 3
    if path == "merge":
        assert store.get("c~/3")[0] == {"item": "3", "v": 3, "id": "3"}
    elif path == "expire":
        with pytest.raises(NotFoundError):
            store.get("c~/1")
    return store, foreign, outcomes


@pytest.mark.parametrize("path", ["merge", "expire"])
def test_bulk_flip_conflict_restages_and_keeps_foreign_write(spark, tmp_path, path):
    """merge_collection and expire_items publish their collection's whole
    content bucket from a Spark frame. A second handle on the same root
    puts a document into that bucket just before the bulk flip: the
    flip, pinned on the bucket's file lists read before the bulk path's
    reads, is refused and the bulk write re-stages from fresh state —
    it never publishes a bucket that erases the foreign write."""
    _, _, outcomes = _bulk_write_with_foreign_put(spark, tmp_path, path, same_bucket=True)
    assert outcomes == ["conflict", "flip"]


@pytest.mark.parametrize("path", ["ingest", "merge", "expire"])
def test_bulk_flip_lands_first_time_past_other_bucket_writes(spark, tmp_path, path):
    """The bulk flip is pinned on the collection's own content and
    statics buckets only: a second handle committing to another bucket
    while the bulk write builds does not refuse it. It lands on its
    first attempt, staging once, and both writes survive."""
    import os

    from hyper_storage_spark.store.documents import CONTENT

    store, _, outcomes = _bulk_write_with_foreign_put(spark, tmp_path, path, same_bucket=False)
    assert outcomes == ["flip"]
    content_dir = store.storage.table_dir(CONTENT)
    staged = [d for d in os.listdir(content_dir) if store.storage.is_staged(os.path.join(content_dir, d))]
    assert len(staged) == 1, staged
    if path == "ingest":
        assert store.get("c~/2") == ({"item": "2", "v": 2, "id": "2"}, 1)


def test_reingest_after_restore_keeps_snapshot_files(spark, tmp_path):
    """Each ingest stages its content in a fresh directory: ingesting
    c~, restoring the store to before that ingest and ingesting c~
    again must not overwrite the first ingest's files, which a retained
    snapshot still reads."""
    store = DocumentStore(str(tmp_path / "s"), spark=spark)
    v0 = store.storage.current_version()
    store.ingest_collection(spark.range(10).selectExpr("cast(id as string) as item", "id as v"), "c~", "item")
    v1 = store.storage.current_version()
    store.restore_version(v0)
    store.ingest_collection(spark.range(3).selectExpr("cast(id as string) as item", "id * 10 as v"), "c~", "item")
    assert store.at_version(v1).get("c~/7") == ({"item": "7", "v": 7, "id": "7"}, 1)
    assert store.get("c~/2") == ({"item": "2", "v": 20, "id": "2"}, 1)
    with pytest.raises(NotFoundError):
        store.get("c~/7")


def test_incremental_index_refresh_equals_full_rebuild(spark, tmp_path):
    """Round-11: bulk merges refresh NORMAL indexes incrementally (only
    the batch's ids re-extract; untouched MV rows copy columnar). The
    incremental result must be row-identical to a full rebuild —
    including a FILTERED index where a touched item enters, leaves, or
    re-enters membership — and expire_items must drop exactly the
    expired ids from the MV."""
    from pyspark.sql import functions as F

    from hyper_storage_spark.plans import SortBy, SortItem

    store = DocumentStore(str(tmp_path / "incidx"), spark=spark)
    for i in range(30):
        store.put(f"inc~/i{i:02d}", {"v": i, "ts": f"2024-01-{(i % 9) + 1:02d} 00:00:00"})
    store.create_index("inc~", "byv", [SortItem("v", "decimal", "asc")], None)
    store.create_index("inc~", "big", [SortItem("v", "decimal", "asc")], "v >= 10")

    # merge: replace two items (one leaves the filtered index, one
    # enters it) and insert one new
    batch = spark.createDataFrame(
        [("i05", 50), ("i15", 5), ("i99", 99)], "item string, v long"
    )
    store.merge_collection(batch, "inc~", "item")

    def mv_rows(index_id):
        from hyper_storage_spark.store.documents import index_spark_schema

        idef = next(d for d in store.index_defs("inc~") if d.index_id == index_id)
        return {
            tuple(r[k] for k in ("item_id", "revision", "body"))
            for r in store.storage.spark_df_or_empty(
                spark, idef.storage_table, index_spark_schema(idef.sort_by)
            ).collect()
        }

    got_byv, got_big = mv_rows("byv"), mv_rows("big")
    # full rebuild ground truth
    for d in store.index_defs("inc~"):
        store._backfill_index_spark(d)
    assert mv_rows("byv") == got_byv
    assert mv_rows("big") == got_big
    # membership transitions landed: i05 (v=50) now in 'big', i15 (v=5) out
    big_ids = {t[0] for t in got_big}
    assert "i05" in big_ids and "i15" not in big_ids and "i99" in big_ids
    # the planner still routes and answers correctly off the MV
    res = store.query("inc~", filter="v >= 40", sort=[SortBy("v")], size=5)
    assert [i["id"] for i in res.items] == ["i05", "i99"]
    assert res.plan.index_id == "big"

    # expire: drop old-ts items; MV loses exactly those ids
    n, _ = store.expire_items("inc~", "ts", "2024-01-03 00:00:00",
                              "v long, ts string")
    assert n > 0
    got_after = mv_rows("byv")
    for d in store.index_defs("inc~"):
        store._backfill_index_spark(d)
    assert mv_rows("byv") == got_after


def test_n_buckets_recorded_and_authoritative(tmp_path):
    """review r12: the manifest's bucket modulus is authoritative on
    reopen — bucket_of(uri, wrong_n) would silently route every read
    and write to the wrong bucket. Default adopts; explicit mismatch
    raises."""
    from hyper_storage_spark.store.storage import Storage

    root = str(tmp_path / "s")
    assert Storage(root, 8).n_buckets == 8
    assert Storage(root).n_buckets == 8  # reopen with default: adopt
    with pytest.raises(ValueError, match="n_buckets"):
        Storage(root, 16)
    ds = DocumentStore(root)  # store facade adopts too
    assert ds.storage.n_buckets == 8


def test_replace_append_table_pinned_against_concurrent_append(tmp_path):
    """review r12: an append landing between the caller's table read
    and the replace flip must conflict, not be silently erased (its
    a-key stripped while its rows are absent from the replacement)."""
    import pyarrow as pa

    from hyper_storage_spark.store.storage import ManifestConflict, Storage

    s = Storage(str(tmp_path / "s"))
    schema = pa.schema([("v", pa.string())])
    s.append("t", [{"v": "a"}], schema)
    v0 = s.current_version()
    rows = s.all_rows("t")
    s.append("t", [{"v": "b"}], schema)  # the concurrent winner
    with pytest.raises(ManifestConflict):
        s.replace_append_table("t", rows, schema, expected_version=v0)
    assert sorted(r["v"] for r in s.all_rows("t")) == ["a", "b"]  # b survived
    # recompute at the fresh version: succeeds
    v1 = s.current_version()
    keep = [r for r in s.all_rows("t") if r["v"] != "a"]
    s.replace_append_table("t", keep, schema, expected_version=v1)
    assert [r["v"] for r in s.all_rows("t")] == ["b"]
    # unpinned call keeps working (compaction's backstop path)
    s.replace_append_table("t", [], schema)
    assert s.all_rows("t") == []


def test_truncate_feed_retries_past_concurrent_append(spark, tmp_path):
    """truncate_feed's read-compute window is pinned: a feed append
    landing inside it forces a recompute, and the late event survives
    the truncation."""
    from hyper_storage_spark.store.documents import FEED, FEED_SCHEMA

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    store.put("doc1", {"a": 1})
    store.put("doc2", {"a": 2})
    cutoff = max(r["ts"] for r in store.feed_events()) + 1

    real = store.storage.replace_append_table
    hits = {"n": 0}

    def racing(table, rows, schema, expected_version=None):
        if hits["n"] == 0:
            hits["n"] += 1
            late = dict(store.feed_events()[0])
            late["uuid"] = "late-event"
            late["ts"] = cutoff + 1000
            store.storage.append(FEED, [late], FEED_SCHEMA)
        return real(table, rows, schema, expected_version=expected_version)

    store.storage.replace_append_table = racing
    try:
        removed = store.truncate_feed(cutoff)
    finally:
        store.storage.replace_append_table = real
    assert removed == 2 and hits["n"] == 1
    assert [r["uuid"] for r in store.feed_events()] == ["late-event"]


def test_snapshot_prune_numeric_past_eight_digits(tmp_path):
    """review r12: snapshot retention must sort NUMERICALLY — past
    version 99,999,999 a lexical sort ranks the newest snapshot first
    and prunes the fresh window instead of the old."""
    import json
    import os

    from hyper_storage_spark.store.storage import Storage

    s = Storage(str(tmp_path / "s"))
    snapdir = s._snapshot_dir()
    # fabricate a window straddling the 8->9 digit boundary
    for v in range(99_999_980, 100_000_020):
        with open(os.path.join(snapdir, f"v{v:08d}.json"), "w") as f:
            json.dump({"version": v, "tables": {}}, f)
    import pyarrow as pa

    s.append("t", [{"v": "x"}], pa.schema([("v", pa.string())]))  # triggers a flip + prune
    left = sorted(
        int(n[1:-5])
        for n in os.listdir(snapdir)
        if n.startswith("v") and n.endswith(".json")
    )
    assert len(left) == Storage.SNAPSHOT_KEEP
    assert left[-1] == 100_000_019  # newest retained
    assert 99_999_980 not in left  # oldest pruned


def test_snapshot_storage_replace_append_is_readonly(tmp_path):
    """review r12: replace_append_table through a snapshot view must
    fail BEFORE staging any file — no orphans behind the read-only
    facade."""
    import os

    import pyarrow as pa

    from hyper_storage_spark.store.storage import SnapshotStorage, Storage

    s = Storage(str(tmp_path / "s"))
    schema = pa.schema([("v", pa.string())])
    s.append("t", [{"v": "a"}], schema)
    snap = SnapshotStorage(s, s.current_version())
    before = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(s.root, "data"))
        for f in fs
    )
    with pytest.raises(RuntimeError, match="read-only"):
        snap.replace_append_table("t", [], schema)
    after = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(s.root, "data"))
        for f in fs
    )
    assert before == after


# -- decoded-row cache --------------------------------------------------------


def _parquet_rows(storage, table, bucket):
    """What a fresh parquet read of the files the manifest names gives."""
    import pyarrow.parquet as pq

    return [r for p in storage.bucket_files(table, bucket) for r in pq.read_table(p).to_pylist()]


def _exact(rows):
    # repr per (key, value) pair: key order, value types and decimal
    # scale all count (Decimal("1.5") == Decimal("1.500000000000"))
    return [repr(list(r.items())) for r in rows]


def _assert_reads_exact(storage):
    """Every bucket of every table reads back exactly as parquet has it:
    the bucket equals the merge rule applied to its files' raw parquet
    rows (their concatenation when it holds no delta file), and each
    file's rows as the storage holds them equal a fresh read of it."""
    import os

    import pyarrow.parquet as pq

    from hyper_storage_spark.store.storage import delta_of, is_delta_file, merge_delta

    manifest = storage._read_manifest()
    checked = 0
    for table, entry in manifest["tables"].items():
        for key in entry:
            if key.startswith("a"):  # append segments are not buckets
                continue
            bucket = int(key)
            paths = storage.bucket_files(table, bucket)
            raw = [pq.read_table(p).to_pylist() for p in paths]
            base = [r for p, rows in zip(paths, raw) if not is_delta_file(p) for r in rows]
            deltas = [rows for p, rows in zip(paths, raw) if is_delta_file(p)]
            want = merge_delta(base, delta_of(deltas)) if deltas else base
            assert _exact(storage.bucket_rows(table, bucket)) == _exact(want), (table, bucket)
            rels = tuple(os.path.relpath(p, storage.root) for p in paths)
            held = storage._file_rows((table, bucket), rels)
            assert [_exact(held[rel]) for rel in rels] == [_exact(rows) for rows in raw], (table, bucket)
            checked += 1
    return checked


def _write_path_store(root):
    """A Spark-free store whose writes touch every table of the item
    write path: content and statics buckets, INDEX_DEFS, and two
    index tables — one with a decimal sort field fed ints, floats and
    strings, one filtered, and items lacking the sort field (absent
    keys in the index rows)."""
    from hyper_storage_spark.plans import SortItem

    store = DocumentStore(root)
    for i in range(12):
        body = {"a": i, "name": f"n{i}"}
        if i % 4:
            body["price"] = [i, i + 0.25, str(i * 7)][i % 3]
        store.put(f"coll~/i{i:02d}", body)
    store.create_index("coll~", "by_price", [SortItem("price", "decimal", "desc")], None)
    store.create_index("coll~", "big_a", [SortItem("name", "text", "asc")], "a > 5")
    for i in range(5):
        store.put(f"doc{i}", {"v": i})
    store.patch("coll~/i04", {"price": 1.5})
    store.delete("coll~/i07")
    store.put("coll~/i13", {"a": 13, "price": -0.0})
    return store


def test_read_cache_reads_equal_parquet_reread_on_the_write_path(tmp_path):
    from hyper_storage_spark.store.documents import CONTENT, INDEX_DEFS, STATICS

    store = _write_path_store(str(tmp_path / "s"))
    st = store.storage
    tables = set(st.tables())
    assert {CONTENT, STATICS, INDEX_DEFS} <= tables
    index_tables = {t for t in tables if t.startswith("index::")}
    assert len(index_tables) == 2
    before = st.read_cache_stats()
    # the first pass is served by entries the write path's own commits
    # seeded, so it checks the commit-side normalization too
    assert _assert_reads_exact(st) >= 6
    after = st.read_cache_stats()
    assert after["hits"] > before["hits"]
    assert _assert_reads_exact(st) >= 6  # and again, from read-seeded entries
    by_price = next(t for t in index_tables if t.endswith("::by_price"))
    prices = [r["d0"] for r in st.bucket_rows(by_price, 0)]
    assert None in prices and all(p is None or p.as_tuple().exponent == -12 for p in prices)


def test_read_cache_commit_normalizes_like_a_reread(tmp_path):
    """Storage-level: rows committed with absent keys, extra keys,
    shuffled key order, ints in float and decimal columns and short
    decimals read back from the cache exactly as from parquet."""
    from decimal import Decimal

    import pyarrow as pa

    from hyper_storage_spark.store.storage import Storage

    schema = pa.schema(
        [
            ("document_uri", pa.string()),
            ("item_id", pa.string()),
            ("n", pa.int64()),
            ("s", pa.int32()),
            ("ok", pa.bool_()),
            ("f", pa.float64()),
            ("d", pa.decimal128(38, 12)),
            ("ts", pa.timestamp("ms")),
        ]
    )
    rows = [
        {"item_id": "b", "document_uri": "u", "f": 3, "d": 7, "extra": "x"},
        {"document_uri": "u", "item_id": "a", "n": 5, "s": 2, "ok": True, "f": 0.5,
         "d": Decimal("1.5"), "ts": 1_700_000_000_000},
        {"document_uri": "u", "item_id": "c", "d": Decimal("-0")},
        {"document_uri": "t", "item_id": None, "d": Decimal("2.000000000000")},
    ]
    st = Storage(str(tmp_path / "s"))
    st.commit({("t", 3): rows}, {"t": schema})
    hits = st.read_cache_stats()["hits"]
    got = st.bucket_rows("t", 3)
    assert st.read_cache_stats()["hits"] == hits + 1
    assert _exact(got) == _exact(_parquet_rows(st, "t", 3))
    assert [r["item_id"] for r in got] == [None, "a", "b", "c"]  # the file's sorted order

    # every value already in read form, but one row's keys out of
    # schema order and one row with a key the schema lacks
    plain = pa.schema([("document_uri", pa.string()), ("n", pa.int64()), ("d", pa.decimal128(38, 12))])
    rows = [{"document_uri": u, "n": i, "d": Decimal("1.000000000000")} for i, u in enumerate("abc")]
    rows[1] = dict(reversed(list(rows[1].items())))
    rows[2]["extra"] = 1
    st.commit({("p", 0): rows}, {"p": plain})
    assert _exact(st.bucket_rows("p", 0)) == _exact(_parquet_rows(st, "p", 0))


def test_read_cache_returns_rows_the_caller_may_mutate(tmp_path):
    store = _write_path_store(str(tmp_path / "s"))
    st = store.storage
    from hyper_storage_spark.store.documents import CONTENT, STATICS

    bucket = store._bucket("coll~")
    for table in (CONTENT, STATICS):
        rows = st.bucket_rows(table, bucket)
        for r in rows:
            r["revision"] = -1
            r.pop("document_uri")
        rows.clear()
        assert _exact(st.bucket_rows(table, bucket)) == _exact(_parquet_rows(st, table, bucket))


def test_read_cache_sees_a_second_handles_commit(tmp_path):
    import pyarrow as pa

    from hyper_storage_spark.store.storage import Storage

    schema = pa.schema([("document_uri", pa.string()), ("v", pa.int64())])
    first = Storage(str(tmp_path / "s"))
    first.commit({("t", 0): [{"document_uri": "a", "v": 1}]}, {"t": schema})
    assert first.bucket_rows("t", 0) == [{"document_uri": "a", "v": 1}]
    second = Storage(first.root)
    second.commit({("t", 0): [{"document_uri": "a", "v": 2}]}, {"t": schema})
    assert first.bucket_rows("t", 0) == [{"document_uri": "a", "v": 2}]

    # the same through two DocumentStore handles on one root
    one = DocumentStore(str(tmp_path / "d"))
    one.put("c~/x", {"v": 1})
    assert one.get("c~/x")[0]["v"] == 1
    DocumentStore(one.storage.root).put("c~/x", {"v": 2})
    one.put("c~/y", {"v": 3})  # rewrites the content bucket from a fresh read
    assert one.get("c~/x") == ({"v": 2, "id": "x"}, 3)
    assert one.get("c~/y")[0]["v"] == 3


def test_read_cache_lost_cas_race_caches_nothing(tmp_path, monkeypatch):
    import pyarrow as pa

    from hyper_storage_spark.store import storage as storage_mod
    from hyper_storage_spark.store.storage import ManifestConflict, Storage

    schema = pa.schema([("document_uri", pa.string()), ("v", pa.int64())])
    loser = Storage(str(tmp_path / "s"))
    winner = Storage(loser.root)
    real_write = storage_mod.write_bucket_file
    raced = []

    def write_then_race(rows, sch, abspath):
        out = real_write(rows, sch, abspath)
        if not raced:  # a foreign flip between the loser's read and CAS
            raced.append(1)
            winner.commit({("t", 0): [{"document_uri": "w", "v": 2}]}, {"t": schema})
        return out

    monkeypatch.setattr(storage_mod, "write_bucket_file", write_then_race)
    with pytest.raises(ManifestConflict):
        loser.commit({("t", 0): [{"document_uri": "l", "v": 1}]}, {"t": schema})
    monkeypatch.setattr(storage_mod, "write_bucket_file", real_write)
    assert loser.read_cache_stats()["files"] == 0
    assert loser.bucket_rows("t", 0) == [{"document_uri": "w", "v": 2}]

    # a pinned commit refused before staging caches nothing either
    v = loser.current_version()
    winner.commit({("t", 1): [{"document_uri": "w", "v": 3}]}, {"t": schema})
    with pytest.raises(ManifestConflict):
        loser.commit({("t", 1): [{"document_uri": "l", "v": 4}]}, {"t": schema}, expected_version=v)
    assert loser.read_cache_stats()["files"] == 1
    assert loser.bucket_rows("t", 1) == [{"document_uri": "w", "v": 3}]

    # an item write's single flip: a flip that lands between its staged
    # files and its CAS makes it lose, and the lost flip registers no
    # feed event or index row; the re-stage registers each once
    import os

    from hyper_storage_spark.plans import SortItem
    from hyper_storage_spark.store.documents import CONTENT, FEED

    store = DocumentStore(str(tmp_path / "d"))
    store.put("c~/x", {"a": 1})
    store.create_index("c~", "by_a", [SortItem("a", "decimal", "asc")], None)
    idef = store.index_defs("c~")[0]

    def state():
        return (
            sorted((e["item_id"], e["revision"]) for e in store.storage.all_rows(FEED)),
            sorted((r["item_id"], r["revision"]) for r in store.storage.bucket_rows(idef.storage_table, 0)),
        )

    races = {"left": 0}

    def race_on_content_file(rows, sch, abspath):
        out = real_write(rows, sch, abspath)
        if races["left"] and f"{os.sep}{CONTENT}{os.sep}" in abspath:
            races["left"] -= 1
            store.storage.set_meta("foreign", races["left"])  # same thread: re-enters the lock
        return out

    monkeypatch.setattr(storage_mod, "write_bucket_file", race_on_content_file)
    before = state()
    index_files = store.storage.bucket_files(idef.storage_table, 0)
    races["left"] = 10**6
    monkeypatch.setattr(store, "WRITE_CAS_RETRIES", 3)
    with pytest.raises(ManifestConflict):
        store.put("c~/y", {"a": 2})
    assert state() == before
    assert store.storage.bucket_files(idef.storage_table, 0) == index_files  # no delta registered
    races["left"] = 1
    assert store.put("c~/y", {"a": 2}) == (True, 2)
    after_files = store.storage.bucket_files(idef.storage_table, 0)
    assert after_files[:-1] == index_files and storage_mod.is_delta_file(after_files[-1])
    feed, index = state()
    assert feed == sorted(before[0] + [("y", 2)])
    assert index == sorted(before[1] + [("y", 2)])


def test_read_cache_lru_cap_evicts(tmp_path, monkeypatch):
    import pyarrow as pa

    from hyper_storage_spark.store.storage import Storage

    monkeypatch.setattr(Storage, "READ_CACHE_ROWS", 5)
    schema = pa.schema([("document_uri", pa.string()), ("v", pa.int64())])
    st = Storage(str(tmp_path / "s"))

    def rows(b, n):
        return [{"document_uri": f"u{b}-{i}", "v": i} for i in range(n)]

    for b in range(3):
        st.commit({("t", b): rows(b, 2)}, {"t": schema})
    stats = st.read_cache_stats()
    assert stats["cap_rows"] == 5 and stats["rows"] == 4 and stats["files"] == 2
    misses = stats["misses"]
    assert st.bucket_rows("t", 0) == rows(0, 2)  # evicted first: read from parquet
    assert st.read_cache_stats()["misses"] == misses + 1
    assert st.bucket_rows("t", 2) == rows(2, 2)  # bucket 1 is now least recent
    assert st.read_cache_stats()["misses"] == misses + 1
    assert st.bucket_rows("t", 1) == rows(1, 2)
    assert st.read_cache_stats()["misses"] == misses + 2
    st.commit({("t", 0): rows(0, 6)}, {"t": schema})  # larger than the cap: not kept
    assert st.read_cache_stats()["rows"] <= 5
    assert st.bucket_rows("t", 0) == rows(0, 6)


def test_read_cache_exact_across_time_travel_restore_and_vacuum(tmp_path):
    store = _write_path_store(str(tmp_path / "s"))
    st = store.storage
    early = st.versions()[len(st.versions()) // 2]
    old = store.at_version(early)
    _assert_reads_exact(st)  # warm the live cache
    assert _assert_reads_exact(old.storage) >= 3
    assert _assert_reads_exact(old.storage) >= 3  # second pass served from memory
    assert old.storage.read_cache_stats()["hits"] > 0
    old_content = {
        (r["document_uri"], r["item_id"]): r["revision"]
        for b in range(st.n_buckets)
        for r in old.storage.bucket_rows("content", b)
    }
    store.restore_version(early)
    _assert_reads_exact(st)
    restored = {
        (r["document_uri"], r["item_id"]): r["revision"]
        for b in range(st.n_buckets)
        for r in st.bucket_rows("content", b)
    }
    assert restored == old_content
    store.put("coll~/after", {"a": 1, "price": 2})
    store.vacuum(grace_seconds=0, keep_versions=0)
    _assert_reads_exact(st)
    assert store.get("coll~/after")[0]["price"] == 2


def test_info_reports_read_cache_counters(tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    store.put("c~/x", {"v": 1})
    store.put("c~/y", {"v": 2})
    cache = store.info()["read_cache"]
    assert set(cache) == {"hits", "misses", "rows", "files", "cap_rows"}
    assert cache["hits"] > 0 and cache["rows"] > 0 and cache["files"] > 0


def test_read_only_views_refuse_external_commits_as_read_only(tmp_path):
    """The time-travel view and the executor overlay accept the base
    commit signature with files and meta to register (pin and appends
    included) and fail as what they are, staging nothing."""
    import os

    import pyarrow as pa

    from hyper_storage_spark.store.storage import OverlayStorage, SnapshotStorage, Storage

    s = Storage(str(tmp_path / "s"))
    schema = pa.schema([("v", pa.string())])
    s.append("t", [{"v": "a"}], schema)
    v = s.current_version()

    def data_files():
        return sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(os.path.join(s.root, "data")) for f in fs
        )

    before = data_files()
    kwargs = dict(drop_tables=["t"], meta={"k": 1}, expected_version=v,
                  appends={"t": ([{"v": "b"}], schema)}, files={"t": {0: before}})
    with pytest.raises(RuntimeError, match="read-only"):
        SnapshotStorage(s, v).commit({}, {}, **kwargs)
    overlay = OverlayStorage(s)
    with pytest.raises(RuntimeError, match="never writes the manifest"):
        overlay.commit({}, {}, **kwargs)
    assert not overlay.dropped and not overlay.appended, "the overlay buffered part of it"
    assert data_files() == before and s.current_version() == v


def test_read_cache_threads_lose_no_update(tmp_path):
    """Threads on two Storage handles of one root run pinned
    read-modify-write cycles on three buckets through the caches. A
    stale or torn cached read would let a pinned commit overwrite a
    newer bucket and lose a row; each cache's row count must also match
    what it holds."""
    import sys
    import threading

    import pyarrow as pa

    from hyper_storage_spark.store.storage import ManifestConflict, Storage

    schema = pa.schema([("document_uri", pa.string()), ("v", pa.int64())])
    st = Storage(str(tmp_path / "s"))
    handles = [st, Storage(st.root)]
    n_threads, per_thread = 8, 12
    errors = []

    def worker(t):
        st = handles[t % 2]
        try:
            for i in range(per_thread):
                while True:
                    v = st.current_version()
                    rows = st.bucket_rows("t", t % 3)
                    rows.append({"document_uri": f"w{t}-{i}", "v": i})
                    try:
                        st.commit({("t", t % 3): rows}, {"t": schema}, expected_version=v)
                        break
                    except ManifestConflict:
                        continue
        except Exception as e:  # reported below, with the thread that raised it
            errors.append((t, repr(e)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    for b in range(3):
        got = sorted(r["document_uri"] for r in st.bucket_rows("t", b))
        assert got == sorted(
            f"w{t}-{i}" for t in range(n_threads) if t % 3 == b for i in range(per_thread)
        )
        assert _exact(st.bucket_rows("t", b)) == _exact(_parquet_rows(st, "t", b))
    for h in handles:
        cache = h._row_cache
        assert cache.rows == sum(len(rows) for rows in cache._entries.values())


# -- one flip per item write; the feed is the transaction log ------------------


def _rows_written_by_table(monkeypatch, write):
    """Rows each table's files got during ``write()``, as passed to
    the shared bucket-file writer."""
    import os

    from hyper_storage_spark.store import storage as storage_mod

    real = storage_mod.write_bucket_file
    seen: dict = {}

    def spy(rows, schema, abspath):
        table = os.path.basename(os.path.dirname(abspath))
        seen[table] = seen.get(table, 0) + len(rows)
        return real(rows, schema, abspath)

    monkeypatch.setattr(storage_mod, "write_bucket_file", spy)
    try:
        write()
    finally:
        monkeypatch.setattr(storage_mod, "write_bucket_file", real)
    return seen


def test_item_write_cost_does_not_grow_with_the_wal(tmp_path, monkeypatch):
    """Transaction-log growth regression (a count, not a timing): the
    log is the feed, and after 2,000 prior writes to one collection
    (write_batch ops, no maintenance) the next item write appends one
    feed event and hands the bucket-file writer the same rows as after
    10 prior writes."""
    from hyper_storage_spark.plans import SortItem
    from hyper_storage_spark.store.documents import FEED

    def rows_written(prior: int) -> dict:
        store = DocumentStore(str(tmp_path / f"s{prior}"))
        store.put("c~/x", {"a": 0})
        store.create_index("c~", "by_a", [SortItem("a", "decimal", "asc")], None)
        for k in range(0, prior, 500):
            out = store.write_batch([("patch", "c~/x", {"a": i}) for i in range(k, min(prior, k + 500))])
            assert not any(isinstance(o, BaseException) for o in out)
        events = store.storage.all_rows(FEED)
        assert sum(1 for e in events if e["item_id"] == "x") == prior + 1
        seen = _rows_written_by_table(monkeypatch, lambda: store.patch("c~/x", {"a": -1}))
        assert len(store.storage.all_rows(FEED)) == len(events) + 1
        return seen

    few, many = rows_written(10), rows_written(2000)
    assert "transactions" not in many
    assert sum(many.values()) == sum(few.values()), (few, many)


def test_item_write_is_one_flip_with_completed_wal_rows(tmp_path):
    """An item write is one flip, and its transaction record is the
    feed event that flip appends under its own key: the id names that
    version and reads completed."""
    from hyper_storage_spark.store.documents import FEED

    store = DocumentStore(str(tmp_path / "s"))
    store.put("c~/a", {"v": 1})
    v = store.storage.current_version()
    _, _, tid = store.put_txn("c~/b", {"v": 2})
    assert store.storage.current_version() == v + 1
    assert tid.startswith(f"{v + 1}-")
    assert f"a{v + 1}" in store.storage._read_manifest()["tables"][FEED]
    assert store.get_transaction(tid)["completed"] is True
    assert "transactions" not in store.storage.tables()
    assert [(e["item_id"], e["revision"]) for e in store.feed_events()] == [("a", 1), ("b", 2)]


def test_get_transaction_reads_a_multi_file_wal_bucket(tmp_path):
    """The transaction log is the feed: ids of writes from two handles
    on one root resolve while the feed holds one file per write, and
    after compact_appends merges them into one."""
    from hyper_storage_spark.store.documents import FEED

    root = str(tmp_path / "s")
    store = DocumentStore(root)
    ids = [store.put_txn("doc", {"n": i})[2] for i in range(3)]
    ids.append(DocumentStore(root).put_txn("doc", {"n": 3})[2])

    def status():
        return [(store.get_transaction(t)["revision"], store.get_transaction(t)["completed"]) for t in ids]

    assert store.info()["tables"][FEED]["append_segments"] == 4
    assert status() == [(1, True), (2, True), (3, True), (4, True)]
    store.compact_appends()
    assert store.info()["tables"][FEED]["append_segments"] == 1
    assert status() == [(1, True), (2, True), (3, True), (4, True)]
    ids.append(store.put_txn("doc", {"n": 4})[2])  # lands after the merged file
    assert status()[-1] == (5, True)


def _feed_files_opened(monkeypatch, read) -> list:
    """Feed parquet files that ``read()`` opened with ``pq.read_table``."""
    import os

    import pyarrow.parquet as pq

    from hyper_storage_spark.store.documents import FEED

    real = pq.read_table
    opened = []

    def spy(source, *args, **kwargs):
        if f"{os.sep}{FEED}{os.sep}" in str(source):
            opened.append(source)
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", spy)
    try:
        read()
    finally:
        monkeypatch.setattr(pq, "read_table", real)
    return opened


def test_get_transaction_opens_one_feed_file(tmp_path, monkeypatch):
    """A status lookup opens exactly one feed file whatever the feed's
    file count — before and after compact_appends — and at most one for
    an unknown id, none for a malformed one."""
    store = DocumentStore(str(tmp_path / "s"))
    ids = [store.put_txn(f"c~/i{i}", {"n": i})[2] for i in range(6)]
    store.compact_appends()
    ids += [store.put_txn(f"c~/j{i}", {"n": i})[2] for i in range(3)]
    for tid in ids:
        assert len(_feed_files_opened(monkeypatch, lambda: store.get_transaction(tid))) == 1

    def missing(tid):
        def read():
            with pytest.raises(NotFoundError):
                store.get_transaction(tid)

        return read

    version, ts, _ = ids[-1].split("-", 2)
    assert len(_feed_files_opened(monkeypatch, missing(f"{version}-{ts}-{'0' * 32}"))) == 1
    assert _feed_files_opened(monkeypatch, missing("not-a-real-id")) == []
    assert _feed_files_opened(monkeypatch, missing("0-0-deadbeef")) == []


def test_transaction_id_resolves_until_truncate_feed_drops_its_event(tmp_path):
    """truncate_feed keeps its retained file at the feed's first append
    key, in publication order (so a lookup's ts filter prunes its row
    groups), so ids of kept events still resolve, also after a later
    append; an id whose event is truncated 404s."""
    import time as _time

    from hyper_storage_spark.store.documents import FEED

    store = DocumentStore(str(tmp_path / "s"))
    ids = []
    for i, uri in enumerate(["a~", "z~", "a~"]):
        ids.append(store.put_txn(f"{uri}/i{i}", {"n": i})[2])
        _time.sleep(0.005)

    def at(tid):
        return store.get_transaction(tid)["completedAt"]

    def published_in_order():
        ts = [e["ts"] for e in store.storage.all_rows(FEED)]
        return ts == sorted(ts)

    assert store.truncate_feed(at(ids[1])) == 1
    assert published_in_order()
    with pytest.raises(NotFoundError):
        store.get_transaction(ids[0])
    assert [store.get_transaction(t)["path"] for t in ids[1:]] == ["z~/i1", "a~/i2"]
    ids.append(store.put_txn("z~/i3", {"n": 3})[2])
    assert store.truncate_feed(at(ids[2])) == 1
    assert published_in_order()
    with pytest.raises(NotFoundError):
        store.get_transaction(ids[1])
    assert [store.get_transaction(t)["path"] for t in ids[2:]] == ["a~/i2", "z~/i3"]
    assert [store.get_transaction(t)["revision"] for t in ids[2:]] == [2, 2]


def test_transaction_id_resolves_from_a_second_handle_and_at_version(tmp_path):
    """Any handle on the root resolves an id, and so does a time-travel
    view at or after the write's flip; a view from before it does not."""
    root = str(tmp_path / "s")
    one = DocumentStore(root)
    one.put("doc", {"n": 0})
    before = one.storage.current_version()
    tid = one.put_txn("doc", {"n": 1})[2]
    at = one.storage.current_version()
    one.put("doc", {"n": 2})
    two = DocumentStore(root)
    assert two.get_transaction(tid) == one.get_transaction(tid)
    assert one.get_transaction(tid)["revision"] == 2
    assert one.at_version(at).get_transaction(tid) == one.get_transaction(tid)
    with pytest.raises(NotFoundError):
        one.at_version(before).get_transaction(tid)
    tid2 = two.put_txn("doc", {"n": 3})[2]
    assert one.get_transaction(tid2)["revision"] == 4


def test_transaction_id_404s_after_restore_version_undoes_its_write(tmp_path):
    store = DocumentStore(str(tmp_path / "s"))
    store.put("doc", {"n": 1})
    v = store.storage.current_version()
    tid = store.put_txn("doc", {"n": 2})[2]
    assert store.get_transaction(tid)["revision"] == 2
    store.restore_version(v)
    with pytest.raises(NotFoundError):
        store.get_transaction(tid)
    store.compact_appends()
    with pytest.raises(NotFoundError):
        store.get_transaction(tid)
    # the write after the rollback reuses the revision under a new id
    again = store.put_txn("doc", {"n": 3})[2]
    assert again != tid and store.get_transaction(again)["revision"] == 2


def test_every_write_path_completes_in_its_own_flip(spark, tmp_path):
    """One-phase completion: once a write returns, each of its
    transactions reads completed and resolves to its feed event — for
    the ``*_txn`` calls, ``write_batch``, a collection delete and a
    command-stream batch. write_batch and stream writes return no ids,
    so theirs are derived from each new feed event and the append key
    it landed under."""
    import os

    import pyarrow.parquet as pq

    from hyper_storage_spark.plans import SortItem
    from hyper_storage_spark.store.documents import FEED, transaction_id
    from hyper_storage_spark.streaming import run_command_stream, write_commands

    store = DocumentStore(str(tmp_path / "s"), spark=spark)
    store.put("c~/a", {"n": 1})
    store.create_index("c~", "by_n", [SortItem("n", "decimal", "asc")], None)

    def events() -> dict:
        """uuid → (id derived from the event's key and ts, event)."""
        out = {}
        for key, rel in store.storage._read_manifest()["tables"][FEED].items():
            for e in pq.read_table(os.path.join(store.storage.root, rel)).to_pylist():
                out[e["uuid"]] = (transaction_id(int(key[1:]), e["ts"], e["uuid"]), e)
        return out

    def check(ids):
        published = {tid: e for tid, e in events().values()}
        for tid in ids:
            t = store.get_transaction(tid)
            e = published[tid]
            assert t["completed"] is True and t["completedAt"] == e["ts"]
            assert (t["revision"], t["method"]) == (e["revision"], e["method"])
            assert t["path"] == (f"{e['document_uri']}/{e['item_id']}" if e["item_id"] else e["document_uri"])

    def ids_of(write) -> list:
        before = events()
        write()
        return [
            tid for uid, (tid, e) in events().items()
            if uid not in before and not e["method"].startswith("feed:index")
        ]

    check([store.put_txn("c~/b", {"n": 2})[2]])
    check([store.patch_txn("c~/b", {"n": 3})[2]])
    check([store.delete_txn("c~/a")[1]])
    check([store.post_txn("c~", {"n": 4})[2]])
    ops = [("put", "c~/d", {"n": 5}), ("patch", "c~/d", {"m": 1}), ("put", "doc", {"x": 1})]
    ids = ids_of(lambda: store.write_batch(ops))
    assert len(ids) == 3
    check(ids)
    check([store.delete_txn("c~")[1]])
    assert store.index_defs("c~") == []
    cmds, ckpt = str(tmp_path / "cmds"), str(tmp_path / "ckpt")
    write_commands(
        cmds,
        [
            {"seq": 1, "method": "put", "path": "s~/x", "body": {"v": 1}},
            {"seq": 2, "method": "patch", "path": "doc", "body": {"y": 2}},
        ],
    )
    ids = ids_of(lambda: run_command_stream(spark, store, cmds, ckpt))
    assert len(ids) == 2
    check(ids)


def test_info_reports_bucket_segments(tmp_path):
    import json as _json
    import os
    import subprocess
    import sys

    from hyper_storage_spark.plans import SortItem

    root = str(tmp_path / "s")
    store = DocumentStore(root)
    for i in range(4):
        store.put("doc", {"n": i})
    store.put("c~/x", {"n": 0})
    store.create_index("c~", "byn", [SortItem("n", "decimal")], None)
    index = store.index_defs("c~")[0].storage_table
    for i in range(2):
        store.put(f"c~/y{i}", {"n": i})
    assert "transactions" not in store.info()["tables"]
    assert store.info()["tables"]["content"]["bucket_segments"] == 0
    assert store.info()["tables"][index]["bucket_segments"] == 2  # pending delta files
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run(
        [sys.executable, "tools/store_admin.py", root, "info"],
        capture_output=True, text=True, cwd=repo, timeout=120,
    )
    assert p.returncode == 0, p.stderr[:400]
    assert "transactions" not in _json.loads(p.stdout)["tables"]
    assert _json.loads(p.stdout)["tables"][index]["bucket_segments"] == 2
    store.compact_appends()
    assert store.info()["tables"][index]["bucket_segments"] == 0


def test_bucket_appends_add_one_file_and_keep_reads_exact(tmp_path):
    """Storage.commit(bucket_appends=) adds one delta file to a bucket's
    list. The read cache grows an entry cached from the pre-flip list,
    drops one cached from another list, and reads stay equal to parquet;
    the executor overlay stages the whole bucket and the time-travel
    view refuses."""
    import pyarrow as pa

    from hyper_storage_spark.store.storage import OverlayStorage, Storage, is_delta_file

    schema = pa.schema([("item_id", pa.string()), ("revision", pa.int64()), ("v", pa.int64())])

    def row(k, v):
        return {"item_id": k, "revision": 1, "v": v}

    st = Storage(str(tmp_path / "s"))
    st.commit({}, {"t": schema}, bucket_appends={("t", 0): [row("b", 1)]})
    st.commit({}, {"t": schema}, bucket_appends={("t", 0): [row("a", 2)]})
    assert [is_delta_file(p) for p in st.bucket_files("t", 0)] == [True, True]
    hits = st.read_cache_stats()["hits"]
    assert st.bucket_rows("t", 0) == [row("b", 1), row("a", 2)]
    assert st.read_cache_stats()["hits"] == hits + 1  # the extended entry
    assert _exact(st.bucket_rows("t", 0)) == _exact(_parquet_rows(st, "t", 0))

    other = Storage(st.root)
    other.commit({}, {"t": schema}, bucket_appends={("t", 0): [row("c", 3)]})
    v = st.current_version()
    st.commit({}, {"t": schema}, bucket_appends={("t", 0): [row("d", 4)]})
    assert st.current_version() == v + 1
    misses = st.read_cache_stats()["misses"]
    assert [r["v"] for r in st.bucket_rows("t", 0)] == [1, 2, 3, 4]
    assert st.read_cache_stats()["misses"] == misses + 1  # dropped, not extended
    # a rewrite through updates replaces the whole list with one base file
    st.commit({("t", 0): st.bucket_rows("t", 0)}, {"t": schema})
    assert [is_delta_file(p) for p in st.bucket_files("t", 0)] == [False]

    overlay = OverlayStorage(st)
    overlay.commit({}, {"t": schema}, bucket_appends={("t", 0): [row("e", 5)]})
    assert [r["v"] for r in overlay.bucket_rows("t", 0)] == [2, 1, 3, 4, 5]  # the rewrite sorted a, b
    assert len(st.bucket_files("t", 0)) == 1  # the base is untouched
    with pytest.raises(RuntimeError, match="read-only"):
        st.snapshot(v).commit({}, {"t": schema}, bucket_appends={("t", 0): []})


def test_write_bucket_file_sorts_by_key_with_none_as_empty(tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hyper_storage_spark.store.storage import write_bucket_file

    two = pa.schema([("document_uri", pa.string()), ("item_id", pa.string())])
    rows = [{"document_uri": "b", "item_id": "x"}, {"document_uri": None, "item_id": "z"},
            {"document_uri": "b"}, {"document_uri": "", "item_id": "a"}]
    path = os.path.join(str(tmp_path), "two.parquet")
    out = write_bucket_file(rows, two, path)
    assert out == [rows[3], rows[1], rows[2], rows[0]]
    assert pq.read_table(path).to_pylist()[0] == {"document_uri": "", "item_id": "a"}
    one = pa.schema([("document_uri", pa.string()), ("v", pa.int64())])
    rows = [{"document_uri": "b", "v": 1}, {"document_uri": None, "v": 2}, {"document_uri": "a", "v": 3}]
    assert [r["v"] for r in write_bucket_file(rows, one, os.path.join(str(tmp_path), "one.parquet"))] == [2, 3, 1]


# -- index maintenance by delta ------------------------------------------------


def _index_state(store, idef):
    """An index table's merged rows as comparable tuples, by item id."""
    return sorted(
        tuple(r.get(k) for k in ("item_id", "revision", "body", "d0", "t0", "t1"))
        for r in store.storage.bucket_rows(idef.storage_table, 0)
    )


def _index_rebuild(store, idef):
    """The same tuples, extracted afresh from the collection's live content."""
    rows = (
        store._index_row(idef, c)
        for c in store._content_bucket(idef.document_uri)
        if c["document_uri"] == idef.document_uri and c["item_id"]
    )
    return sorted(tuple(r.get(k) for k in ("item_id", "revision", "body", "d0", "t0", "t1")) for r in rows if r)


def _delta_files(store, idef):
    from hyper_storage_spark.store.storage import is_delta_file

    return [p for p in store.storage.bucket_files(idef.storage_table, 0) if is_delta_file(p)]


def test_delta_bucket_appends_merge_by_item_id(tmp_path):
    """Storage level: bucket_appends files are named as deltas and
    merged by item_id (newest row wins, a null revision is a tombstone)
    in unfiltered and filtered reads and in the executor overlay."""
    import pyarrow as pa

    from hyper_storage_spark.store.storage import OverlayStorage, Storage, is_delta_file

    schema = pa.schema([("item_id", pa.string()), ("revision", pa.int64()), ("v", pa.int64())])
    st = Storage(str(tmp_path / "s"))
    st.commit({("t", 0): [{"item_id": k, "revision": 1, "v": i} for i, k in enumerate("abc")]}, {"t": schema})
    st.commit({}, {"t": schema}, bucket_appends={("t", 0): [
        {"item_id": "a", "revision": 2, "v": 10}, {"item_id": "b", "revision": None}, {"item_id": "d", "revision": 2, "v": 3},
    ]})
    st.commit({}, {"t": schema}, bucket_appends={("t", 0): [{"item_id": "a", "revision": 3, "v": 20}]})
    files = st.bucket_files("t", 0)
    assert [is_delta_file(p) for p in files] == [False, True, True]
    want = [{"item_id": "c", "revision": 1, "v": 2}, {"item_id": "a", "revision": 3, "v": 20},
            {"item_id": "d", "revision": 2, "v": 3}]
    assert st.bucket_rows("t", 0) == want
    assert Storage(st.root).bucket_rows("t", 0) == want  # from parquet, not the cache
    assert st.bucket_rows("t", 0, filters=[("v", ">=", 3)]) == want[1:]
    assert st.bucket_rows("t", 0, filters=[("item_id", "==", "b")]) == []
    overlay = OverlayStorage(st)
    overlay.commit({}, {"t": schema}, bucket_appends={("t", 0): [{"item_id": "c", "revision": None}]})
    assert overlay.bucket_rows("t", 0) == want[1:]
    assert st.bucket_rows("t", 0) == want


def test_item_write_appends_index_deltas_and_folds_at_the_cap(tmp_path, monkeypatch):
    """An item write adds one delta file per index holding one row per
    touched item, whatever the index's size; the write that finds the
    list at DELTA_MAX_FILES folds it into one base file, and so does
    compact_appends(). The merged rows always equal a rebuild."""
    from hyper_storage_spark.plans import SortItem

    store = DocumentStore(str(tmp_path / "s"))
    for i in range(40):
        store.put(f"c~/i{i:02d}", {"a": i})
    store.create_index("c~", "hot", [SortItem("a", "decimal", "desc")], "a > 20")
    idef = store.index_defs("c~")[0]
    assert len(store.storage.bucket_files(idef.storage_table, 0)) == 1
    for n in range(1, store.DELTA_MAX_FILES):
        seen = _rows_written_by_table(monkeypatch, lambda: store.patch(f"c~/i{n:02d}", {"a": 30 + n}))
        index_dir = next(t for t in seen if t.startswith("index_"))
        assert seen[index_dir] == 1
        assert len(_delta_files(store, idef)) == n
        assert _index_state(store, idef) == _index_rebuild(store, idef)
    store.delete("c~/i30")  # the list is full: this write folds it
    assert _delta_files(store, idef) == [] and len(store.storage.bucket_files(idef.storage_table, 0)) == 1
    assert _index_state(store, idef) == _index_rebuild(store, idef)
    store.patch("c~/i39", {"a": 0})
    assert len(_delta_files(store, idef)) == 1
    info = store.info()["tables"][idef.storage_table]
    assert info["bucket_segments"] == 1
    store.compact_appends()
    assert _delta_files(store, idef) == []
    assert _index_state(store, idef) == _index_rebuild(store, idef)
    assert "i39" not in {r[0] for r in _index_state(store, idef)}


def test_batch_write_folds_an_index_delta_past_its_share_of_the_base(tmp_path):
    """An index-served query fetches one extra row per pending delta
    row, so a write also folds an index when the delta rows, pending
    plus its own, would exceed both DELTA_MAX_FILES and the base's rows
    divided by DELTA_MAX_FILES: write_batch into an indexed collection
    leaves at most that many delta rows pending, while single-item
    writes still append up to the file cap."""
    import random

    from hyper_storage_spark.plans import SortItem

    store = DocumentStore(str(tmp_path / "s"))
    store.write_batch([("put", f"c~/i{i:03d}", {"a": i}) for i in range(400)])
    store.create_index("c~", "all", [SortItem("a", "decimal", "asc")])
    idef = store.index_defs("c~")[0]
    cap = store.DELTA_MAX_FILES
    assert store.storage.bucket_shape(idef.storage_table, 0) == (1, 400, 0)
    store.write_batch([("patch", f"c~/i{i:03d}", {"a": -i}) for i in range(30)])
    assert store.storage.bucket_shape(idef.storage_table, 0) == (2, 400, 30)  # 30 <= 400 // cap
    store.write_batch([("patch", f"c~/i{i:03d}", {"a": -i}) for i in range(30, 60)])  # 60 > 50: fold
    assert store.storage.bucket_shape(idef.storage_table, 0) == (1, 400, 0)
    assert _index_state(store, idef) == _index_rebuild(store, idef)
    store.write_batch([("delete", f"c~/i{i:03d}", None) for i in range(100, 160)])  # one batch past the share
    assert store.storage.bucket_shape(idef.storage_table, 0) == (1, 340, 0)
    assert _index_state(store, idef) == _index_rebuild(store, idef)
    for n in range(1, cap):
        store.patch(f"c~/i{n:03d}", {"a": n})
        assert store.storage.bucket_shape(idef.storage_table, 0) == (1 + n, 340, n)
    rng = random.Random(5)
    for _ in range(30):
        ids = rng.sample(range(400), rng.randint(1, 25))
        store.write_batch([("put", f"c~/i{i:03d}", {"a": rng.randint(0, 9)}) for i in ids])
        files, base, pending = store.storage.bucket_shape(idef.storage_table, 0)
        assert files <= cap and pending <= max(cap, base // cap)
        assert _index_state(store, idef) == _index_rebuild(store, idef)


def test_item_write_reads_no_wal_rows_however_many_it_keeps(tmp_path, monkeypatch):
    """The transaction log is the feed, and a write only appends to it:
    after 10 or 2,000 prior writes the next item write opens no feed
    file — also on a fresh handle."""

    def after(prior: int) -> tuple:
        root = str(tmp_path / f"s{prior}")
        store = DocumentStore(root)
        store.put("c~/x", {"a": 0})
        for k in range(0, prior, 500):
            store.write_batch([("patch", "c~/x", {"a": i}) for i in range(k, min(prior, k + 500))])
        assert len(store.feed_events()) == prior + 1
        warm = _feed_files_opened(monkeypatch, lambda: store.patch("c~/x", {"a": -1}))
        fresh = DocumentStore(root)
        cold = _feed_files_opened(monkeypatch, lambda: fresh.patch("c~/x", {"a": -2}))
        return len(warm), len(cold)

    assert after(10) == after(2000) == (0, 0)


def test_decimal_sort_values_past_the_column_scale_agree_across_build_paths(spark, tmp_path):
    """A decimal sort value with more than 12 fractional digits, or past
    the column's 26 integer digits, used to fail the item write (and the
    driver backfill) with an arrow rescaling error. Every path stores
    what decimal(38,12) holds, as the Spark build's cast does: rounded
    half-up to 12 places, NULL on overflow — the writes succeed, and the
    item-write delta, the driver backfill and the Spark build give
    identical rows."""
    from decimal import Decimal

    from hyper_storage_spark.plans import SortItem

    bodies = {
        "a": {"v": 0.1234567890123456},
        "b": {"v": 0.1234567890126456},
        "c": {"v": -0.1234567890125},
        "d": {"v": 2.5e-13},
        "e": {"v": 5e-13},
        "f": {"v": 1.5},
        "g": {"v": 1e30},
        "h": {"v": 12345678901234567890123456},
    }
    store = DocumentStore(str(tmp_path / "dec"), spark=spark)
    store.put("dec~/seed", {"v": 0})
    sort = [SortItem("v", "decimal", "asc")]
    store.create_index("dec~", "live", sort, None)
    for k, body in bodies.items():
        assert store.put(f"dec~/{k}", body)[0] is True
    rows = {"delta": _index_state(store, store.index_defs("dec~")[0])}
    store.delete_index("dec~", "live")
    for use_spark in (False, True):
        store.create_index("dec~", "ix", sort, None, use_spark=use_spark)
        rows[use_spark] = _index_state(store, store.index_defs("dec~")[0])
        store.delete_index("dec~", "ix")
    assert rows["delta"] == rows[False] == rows[True]
    values = {r[0]: r[3] for r in rows[True]}
    assert values["a"] == Decimal("0.123456789012") and values["b"] == Decimal("0.123456789013")
    assert values["c"] == Decimal("-0.123456789013") and values["f"] == Decimal("1.5")
    assert values["d"] == 0 and values["e"] == Decimal("1E-12")
    assert values["g"] is None and values["h"] == Decimal("12345678901234567890123456")


def test_null_body_index_membership_agrees_across_build_paths(spark, tmp_path):
    """A live item whose body PATCHed to null: the driver build, the
    Spark build and per-item maintenance give an index the same rows
    (an unfiltered index holds the item with null sort values), and an
    index-served query returns the same items as the base-table plan."""
    import json as _json

    from hyper_storage_spark.plans import SortBy, SortItem

    store = DocumentStore(str(tmp_path / "nb"), spark=spark)
    for i in range(6):
        store.put(f"nb~/i{i}", {"a": i, "p": 10 - i})
    store.patch("nb~/i1", None)
    queries = [
        dict(sort=[SortBy("p")]),
        dict(sort=[SortBy("p", True)]),
        dict(filter="a > 2", sort=[SortBy("p")]),
    ]

    def answers():
        return [sorted(_json.dumps(b) for b in store.query("nb~", size=20, **q).items) for q in queries]

    base = answers()  # no index yet: the base-table plan serves them
    assert _json.dumps(None) in base[0]
    for filter_by in (None, "a > 2"):
        rows = {}
        for use_spark in (False, True):
            store.create_index("nb~", "ix", [SortItem("p", "decimal")], filter_by, use_spark=use_spark)
            idef = store.index_defs("nb~")[0]
            rows[use_spark] = _index_state(store, idef)
            served = ["ix"] * 3 if filter_by is None else [None, None, "ix"]
            assert [store.explain("nb~", **q).index_id for q in queries] == served
            assert answers() == base, (filter_by, use_spark)
            store.delete_index("nb~", "ix")
        assert rows[False] == rows[True] == _index_rebuild(store, idef)
        assert ("i1" in {r[0] for r in rows[True]}) == (filter_by is None)
    # per-item maintenance agrees with both builds
    store.create_index("nb~", "ix", [SortItem("p", "decimal")], None)
    idef = store.index_defs("nb~")[0]
    store.patch("nb~/i4", None)
    assert "i4" in {r[0] for r in _index_state(store, idef)}
    assert _index_state(store, idef) == _index_rebuild(store, idef)
    # a write to the collection document itself ('' item id) is no
    # item: like both builds, maintenance leaves it out of the index
    files = store.storage.bucket_files(idef.storage_table, 0)
    store.put("nb~", {"p": 5})
    assert store.storage.bucket_files(idef.storage_table, 0) == files
    assert "" not in {r["item_id"] for r in store.storage.bucket_rows(idef.storage_table, 0)}
    assert sorted(_json.dumps(b) for b in store.query("nb~", size=20, sort=[SortBy("p")]).items) == sorted(
        _json.dumps(store.get(f"nb~/i{i}")[0]) for i in range(6)
    )


def _fuzz_body(rng):
    body = {"a": rng.randint(0, 9)}
    p = rng.choice([1, 2, 2, 2.5, "x", None])
    if p is not None:
        body["p"] = p
    t = rng.choice(["a", "b", "b", None])
    if t is not None:
        body["t"] = t
    return body


def _copy_and_fold(spark, root, dest):
    """A copy of the store whose index deltas are all folded."""
    import shutil

    shutil.copytree(root, dest)
    folded = DocumentStore(dest, spark=spark)
    folded.compact_appends()
    for idef in folded.index_defs("fz~"):
        assert _delta_files(folded, idef) == []
    return folded


def _answers(store, checks):
    """Each check's outcome: (items, plan kind) or the exception type;
    paged checks add their select traces."""
    from hyper_storage_spark.store.query import QueryBudgetExceeded

    out = []
    for paged, kw in checks:
        try:
            res = (store.query_paged if paged else store.query)("fz~", **kw)
        except QueryBudgetExceeded as e:
            out.append(type(e).__name__)
            continue
        p = res.plan
        out.append((res.items, p.index_id, p.exact_sort, p.reversed, getattr(res, "selects", None)))
    return out


def test_index_delta_fuzz_matches_rebuild_and_folded_copy(spark, tmp_path, routes):
    """Seeded PUT/PATCH/DELETE traffic moves items in and out of a
    filtered index, with tied and null sort values and PATCHes to null,
    across write-path folds and compact_appends(). After every op each
    index's merged rows equal a rebuild from live content; at
    checkpoints every query and query_paged answer (exact, reversed,
    inexact with its budget, residual) equals that of a folded copy,
    and the driver and Spark routes give the same answers."""
    import random

    from hyper_storage_spark.plans import SortBy, SortItem

    rng = random.Random(7331)
    root = str(tmp_path / "fz")
    store = DocumentStore(root, spark=spark)
    ids = [f"i{n:02d}" for n in range(14)]
    for i in ids[:9]:
        store.put(f"fz~/{i}", _fuzz_body(rng))
    store.create_index("fz~", "hot", [SortItem("p", "decimal", "desc"), SortItem("t", "text")], "a > 3")
    store.create_index("fz~", "byt", [SortItem("t", "text")], None)
    idefs = store.index_defs("fz~")
    checks = [
        (False, dict(filter="a > 3", sort=[SortBy("p", True), SortBy("t")], size=4)),
        (False, dict(filter="a > 3", sort=[SortBy("p"), SortBy("t", True)], size=4)),
        (False, dict(filter="a > 3", sort=[SortBy("a")], size=3, skip_max=4)),
        (False, dict(filter="a > 3", sort=[SortBy("a")], size=2, skip_max=1)),
        (False, dict(filter='t = "b" and a > 4', sort=[SortBy("t")], size=20)),
        (False, dict(filter='t > "a"', sort=[SortBy("t", True)], size=5)),
        (True, dict(filter="a > 3", sort=[SortBy("p", True), SortBy("t")], size=2)),
        (True, dict(filter="a > 3", sort=[SortBy("p"), SortBy("t", True)], size=2)),
        (True, dict(filter="a > 6", sort=[SortBy("t")], size=2)),
    ]
    kinds = set()
    checked_with_delta = 0
    for step in range(90):
        item = rng.choice(ids)
        roll = rng.random()
        try:
            if roll < 0.4:
                store.put(f"fz~/{item}", _fuzz_body(rng))
            elif roll < 0.55:
                store.patch(f"fz~/{item}", None)
            elif roll < 0.8:
                store.patch(f"fz~/{item}", {"a": rng.randint(0, 9), "p": rng.choice([None, 2, 3])})
            else:
                store.delete(f"fz~/{item}")
        except NotFoundError:
            pass
        if rng.random() < 0.05:
            store.compact_appends()
        for idef in idefs:
            assert _index_state(store, idef) == _index_rebuild(store, idef), (step, idef.index_id)
        if step % 15 == 14:
            pending = sum(len(_delta_files(store, idef)) for idef in idefs)
            checked_with_delta += pending > 0
            folded = _copy_and_fold(spark, root, str(tmp_path / f"folded{step}"))
            got, want = _answers(store, checks), _answers(folded, checks)
            assert got == want, step
            kinds.update((a[1], a[2], a[3]) for a in got if isinstance(a, tuple))
            kinds.update(a for a in got if isinstance(a, str))
    assert checked_with_delta >= 4
    assert "QueryBudgetExceeded" in kinds
    assert {k[1:] for k in kinds if isinstance(k, tuple) and k[0]} >= {(True, False), (True, True), (False, False)}


def test_index_served_frame_reads_base_files_and_gains_no_filter(spark, tmp_path, routes):
    """The Spark plan of an index-served query is the same with and
    without a pending delta: its frame reads the base files only and
    carries the same filters; the delta is merged on the driver."""
    import re

    from hyper_storage_spark.plans import SortBy, SortItem
    from hyper_storage_spark.store.query import _plan, _with_residual

    routes.pin("spark")
    store = DocumentStore(str(tmp_path / "pl"), spark=spark)
    for i in range(8):
        store.put(f"pl~/i{i}", {"a": i})
    store.create_index("pl~", "bya", [SortItem("a", "decimal")], "a > 1")
    idef = store.index_defs("pl~")[0]

    def shape():
        plan, src, filter_ast = _plan(store, "pl~", "a > 2", [SortBy("a")])
        src = _with_residual(plan, src, filter_ast)  # the frame query() runs
        assert plan.index_id == "bya" and plan.residual_compiled
        text = src.df._jdf.queryExecution().optimizedPlan().toString()
        return sorted(src.df.inputFiles()), re.sub(r"#\d+L?", "#", text), src.delta

    files, before, delta = shape()
    assert delta == {}
    store.patch("pl~/i5", {"a": 0})
    store.put("pl~/i9", {"a": 9})
    files_after, after, delta = shape()
    assert sorted(delta) == ["i5", "i9"] and delta["i5"]["revision"] is None
    assert files_after == files and len(_delta_files(store, idef)) == 2
    assert not any("delta-" in f for f in files_after)
    assert after == before
    assert [b["id"] for b in store.query("pl~", filter="a > 2", sort=[SortBy("a")]).items] == [
        "i3", "i4", "i6", "i7", "i9"
    ]


def test_index_deltas_across_collection_recreate_time_travel_and_vacuum(spark, tmp_path):
    """A collection delete drops its index tables with every delta file,
    and a re-created index starts clean; an at_version view reads the
    multi-file index as it was; vacuum keeps referenced delta files."""
    from hyper_storage_spark.plans import SortBy, SortItem

    store = DocumentStore(str(tmp_path / "rc"), spark=spark)
    for i in range(5):
        store.put(f"rc~/i{i}", {"a": i})
    store.create_index("rc~", "bya", [SortItem("a", "decimal")], None)
    idef = store.index_defs("rc~")[0]
    store.patch("rc~/i1", {"a": 10})
    store.delete("rc~/i2")
    assert len(_delta_files(store, idef)) == 2
    v = store.storage.current_version()
    then_rows = _index_state(store, idef)
    then_items = store.query("rc~", sort=[SortBy("a")]).items
    store.put("rc~/i7", {"a": -1})
    store.patch("rc~/i3", None)

    old = store.at_version(v)
    assert _index_state(old, idef) == then_rows
    assert old.query("rc~", sort=[SortBy("a")]).items == then_items
    now_rows = _index_state(store, idef)
    store.vacuum(grace_seconds=0, keep_versions=0)
    assert len(_delta_files(store, idef)) == 4
    assert _index_state(DocumentStore(store.storage.root), idef) == now_rows
    _assert_reads_exact(store.storage)

    store.delete("rc~")
    assert store.storage.files(idef.storage_table) == []
    store.put("rc~/j0", {"a": 1})
    store.create_index("rc~", "bya", [SortItem("a", "decimal")], None)
    assert _delta_files(store, idef) == []
    store.put("rc~/j1", {"a": 2})
    assert len(_delta_files(store, idef)) == 1
    assert _index_state(store, idef) == _index_rebuild(store, idef)


def test_bulk_index_paths_over_pending_deltas(spark, tmp_path):
    """merge_collection and expire_items refresh an index incrementally
    from its base files, so items with pending delta rows re-extract
    from content; _backfill_index_spark rebuilds over them. Each leaves
    one merged base equal to a rebuild."""
    from hyper_storage_spark.plans import SortItem

    store = DocumentStore(str(tmp_path / "bk"), spark=spark)
    for i in range(10):
        store.put(f"bk~/i{i}", {"v": i, "ts": f"2024-01-{i + 1:02d} 00:00:00"})
    store.create_index("bk~", "big", [SortItem("v", "decimal")], "v >= 5", use_spark=True)
    idef = store.index_defs("bk~")[0]

    def pend(leaves, enters, gone):
        store.patch(f"bk~/{leaves}", {"v": 1})
        store.patch(f"bk~/{enters}", {"v": 50})
        store.delete(f"bk~/{gone}")
        assert _delta_files(store, idef)  # a write may have folded first

    def settled():
        assert _delta_files(store, idef) == []
        assert _index_state(store, idef) == _index_rebuild(store, idef)

    pend("i6", "i2", "i8")
    batch = spark.createDataFrame([("i3", 30), ("i20", 20)], "item string, v long")
    store.merge_collection(batch, "bk~", "item")
    settled()
    assert {"i2", "i3", "i20"} <= {r[0] for r in _index_state(store, idef)}
    store.put("bk~/i6", {"v": 60, "ts": "2023-01-01 00:00:00"})
    pend("i9", "i4", "i5")
    n, _ = store.expire_items("bk~", "ts", "2024-01-03 00:00:00", "v long, ts string")
    assert n >= 1
    settled()
    store.put("bk~/i7", {"v": 70})
    pend("i7", "i3", "i9")
    store._backfill_index_spark(idef)
    settled()
