"""REST façade flows (the reference's IntegratedSpec surface:
PUT+GET with revision headers, POST auto-id, PATCH null-deletion,
DELETE→404, collection GET with HAL shape + filter/sort params,
error mapping)."""

import pytest

from hyper_storage_spark.rest import RestFacade, parse_sort
from hyper_storage_spark.store import DocumentStore


@pytest.fixture()
def facade(spark, tmp_path):
    return RestFacade(DocumentStore(str(tmp_path / "rest"), spark=spark))


def test_put_get_revision_cycle(facade):
    r = facade.put("abc/123", {"a": 10, "x": "hello"})
    assert r.status == 201 and r.headers["revision"] == "1"
    r = facade.get("abc/123")
    assert r.status == 200
    assert r.body == {"a": 10, "x": "hello"}
    assert r.headers["revision"] == "1"
    r = facade.put("abc/123", {"a": 11})
    assert r.status == 200 and r.headers["revision"] == "2"


def test_get_missing_is_404(facade):
    assert facade.get("nope/missing").status == 404
    assert facade.handle("GET", "nope/missing").status == 404


def test_patch_null_deletes_field(facade):
    facade.put("doc1", {"a": 1, "b": 2})
    r = facade.patch("doc1", {"b": None, "c": 3})
    assert r.status == 200
    assert facade.get("doc1").body == {"a": 1, "c": 3}
    assert facade.patch("ghost", {"a": 1}).status == 404


def test_delete_then_404(facade):
    facade.put("doc2", {"a": 1})
    assert facade.delete("doc2").status == 200
    assert facade.get("doc2").status == 404
    assert facade.delete("doc2").status == 404


def test_post_generates_item_id(facade):
    r = facade.post("col~", {"v": 1})
    assert r.status == 201
    item_id = r.body["id"]
    assert r.headers["location"] == f"col~/{item_id}"
    got = facade.get(f"col~/{item_id}")
    assert got.status == 200 and got.body["v"] == 1


def test_collection_query_hal_filter_sort(facade):
    facade.put("c~/i1", {"a": "hello", "b": 100500})
    facade.put("c~/i2", {"a": "goodbye", "b": 1})
    facade.put("c~/i3", {"a": "way way", "b": 12})
    r = facade.get("c~", filter="b > 10", sort="-b")
    assert r.status == 200
    els = r.body["_embedded"]["els"]
    assert [e["b"] for e in els] == [100500, 12]
    # paged fetch loop returns the same result
    r2 = facade.get("c~", filter="b > 10", sort="-b", paged=True)
    assert [e["b"] for e in r2.body["_embedded"]["els"]] == [100500, 12]
    # size caps the page
    r3 = facade.get("c~", sort="b", size=2)
    assert [e["b"] for e in r3.body["_embedded"]["els"]] == [1, 12]


def test_error_mapping(facade):
    assert facade.get("/bad//path").status == 400
    assert facade.get("missing~").status == 404  # collection not found
    assert facade.handle("BREW", "doc").status == 405


def test_parse_sort():
    assert parse_sort(None) == []
    s = parse_sort("a,-b, c")
    assert [(x.field_name, x.descending) for x in s] == [
        ("a", False),
        ("b", True),
        ("c", False),
    ]


def test_get_document_with_query_params_is_400(facade):
    facade.put("plaindoc", {"a": 1})
    assert facade.get("plaindoc").status == 200
    for kwargs in ({"filter": "a > 0"}, {"sort": "-a"}, {"size": 5}, {"paged": True}):
        resp = facade.get("plaindoc", **kwargs)
        assert resp.status == 400, kwargs


def test_conditional_put_if_match(facade):
    r1 = facade.put("cdoc", {"a": 1})
    assert r1.status == 201
    rev = r1.headers["revision"]
    # matching revision: write proceeds, revision advances
    r2 = facade.put("cdoc", {"a": 2}, if_match=rev)
    assert r2.status == 200 and r2.headers["revision"] == "2"
    # stale revision: 412 with the CURRENT revision surfaced
    r3 = facade.put("cdoc", {"a": 3}, if_match=rev)
    assert r3.status == 412 and r3.headers["revision"] == "2"
    assert facade.get("cdoc").body == {"a": 2}  # the stale write did not land
    # if_match="*": bare existence is enough
    assert facade.put("cdoc", {"a": 4}, if_match="*").status == 200
    # if_match on a missing resource: 412, and nothing is created
    assert facade.put("nodoc", {"x": 1}, if_match="*").status == 412
    assert facade.get("nodoc").status == 404


def test_conditional_put_create_only(facade):
    assert facade.put("fresh", {"a": 1}, if_none_match="*").status == 201
    r = facade.put("fresh", {"a": 2}, if_none_match="*")
    assert r.status == 412 and r.headers["revision"] == "1"
    assert facade.get("fresh").body == {"a": 1}
    # a DELETEd document no longer exists: create-only succeeds again
    facade.delete("fresh")
    assert facade.put("fresh", {"a": 3}, if_none_match="*").status == 201


def test_conditional_patch_delete_if_match(facade):
    facade.put("pd", {"a": 1})
    assert facade.patch("pd", {"b": 2}, if_match="1").status == 200
    r = facade.patch("pd", {"b": 3}, if_match="1")
    assert r.status == 412 and r.headers["revision"] == "2"
    assert facade.get("pd").body == {"a": 1, "b": 2}
    assert facade.delete("pd", if_match="1").status == 412
    assert facade.delete("pd", if_match="2").status == 200
    assert facade.get("pd").status == 404


def test_conditional_if_match_on_collection_item(facade):
    facade.put("cc~/i1", {"v": 1})
    facade.put("cc~/i2", {"v": 2})  # shared counter → revision 2
    # the governing revision is the document-level counter (what the
    # revision header returns), not the item's own write revision
    assert facade.get("cc~/i1").headers["revision"] == "2"
    assert facade.put("cc~/i1", {"v": 9}, if_match="2").status == 200
    assert facade.put("cc~/i2", {"v": 9}, if_match="2").status == 412
    # deleted item no longer matches even though the document exists
    facade.delete("cc~/i1")
    assert facade.patch("cc~/i1", {"v": 0}, if_match="*").status == 412


def test_get_if_none_match_304(facade):
    facade.put("gdoc", {"a": 1})
    r = facade.get("gdoc", if_none_match="1")
    assert r.status == 304 and r.body is None and r.headers["revision"] == "1"
    assert facade.get("gdoc", if_none_match="9").status == 200
    facade.put("col304~/x", {"v": 1})
    assert facade.get("col304~", if_none_match="1").status == 304
    assert facade.get("col304~", if_none_match="0").status == 200
    # dispatch surface passes conditionals through
    assert facade.handle("GET", "gdoc", if_none_match="1").status == 304
    assert facade.handle("PUT", "gdoc", {"a": 2}, if_match="9").status == 412


def test_rest_paged_collection_time_travel(facade):
    """at_version composes with the paged fetch loop: the keyset
    machinery runs against the snapshot's frozen file lists."""
    for i in range(8):
        facade.put(f"tt~/i{i}", {"n": i})
    store = facade.store
    v = store.storage._read_manifest()["version"]
    for i in range(8, 12):
        facade.put(f"tt~/i{i}", {"n": i})
    now = facade.get("tt~", size=20, paged=True)
    then = facade.get("tt~", size=20, paged=True, at_version=v)
    assert len(now.body["_embedded"]["els"]) == 12
    assert [e["n"] for e in then.body["_embedded"]["els"]] == list(range(8))
    assert then.headers["revision"] == "8"


def test_dispatch_unknown_params_are_400_not_typeerror(facade):
    """Params a verb doesn't accept must map to a 400 RestResponse,
    never escape dispatch as a TypeError (regression: handle() used to
    forward **params blindly into put/patch/delete)."""
    facade.put("pdoc", {"a": 1})
    assert facade.handle("DELETE", "pdoc", size=5).status == 400
    assert facade.handle("DELETE", "pdoc", at_version=1).status == 400
    assert facade.handle("PUT", "pdoc", {"a": 2}, sort="a").status == 400
    assert facade.handle("PATCH", "pdoc", {"a": 2}, if_none_match="*").status == 400
    assert facade.handle("POST", "c~", {"a": 1}, filter="a = 1").status == 400
    assert facade.handle("GET", "pdoc", bogus=1).status == 400
    # the document survived every rejected call, and legit params still work
    assert facade.handle("GET", "pdoc").body == {"a": 1}
    assert facade.handle("DELETE", "pdoc", if_match="1").status == 200


def test_rest_aggregate_route(spark, tmp_path):
    from hyper_storage_spark.rest import RestFacade
    from hyper_storage_spark.store import DocumentStore

    st = DocumentStore(str(tmp_path / "agg_store"), spark=spark)
    schema = "ts string, k string, v double"
    for i in range(12):
        st.put(f"m~/i{i}", {"ts": f"2024-01-0{(i % 3) + 1} 00:00:00", "k": f"k{i % 2}", "v": float(i)})
    rest = RestFacade(st)
    # content fallback needs the schema param
    r = rest.handle("GET", "m~/_aggregate", ts_field="ts", key_fields="k",
                    value_field="v", schema=schema)
    assert r.status == 200 and r.headers["aggregate-source"] == "content"
    total = sum(e["n"] for e in r.body["_embedded"]["els"])
    assert total == 12
    # with a registered rollup the same request routes to the MV,
    # refreshed per auto_refresh, and a month ask coarsens
    rid = st.create_rollup("m~", "ts", ["k"], "v", resolution="day", schema=schema)
    r2 = rest.handle("GET", "m~/_aggregate", ts_field="ts", key_fields="k", value_field="v")
    assert r2.headers["aggregate-source"] == "rollup" and r2.headers["rollup-id"] == rid
    assert r2.headers["rollup-refresh"] == "fresh" and r2.headers["coarsened"] == "false"
    assert r2.body["_embedded"]["els"] == r.body["_embedded"]["els"]
    r3 = rest.handle("GET", "m~/_aggregate", ts_field="ts", key_fields="k",
                     value_field="v", resolution="month")
    assert r3.headers["coarsened"] == "true" and len(r3.body["_embedded"]["els"]) == 2
    # parameter validation + 404 + wrong verb
    assert rest.handle("GET", "m~/_aggregate", ts_field="ts").status == 400
    assert rest.handle("GET", "nope~/_aggregate", ts_field="ts", key_fields="k",
                       value_field="v", schema=schema).status == 404
    assert rest.handle("POST", "m~/_aggregate", {"x": 1}).status == 405
    # no servable rollup and no schema -> 400, not a crash
    r4 = rest.handle("GET", "m~/_aggregate", ts_field="ts", key_fields="k",
                     value_field="v", resolution="hour")
    assert r4.status == 400 and "schema" in r4.body["error"]


def test_rest_aggregate_key_fields_whitespace(spark, tmp_path):
    from hyper_storage_spark.rest import RestFacade
    from hyper_storage_spark.store import DocumentStore

    st = DocumentStore(str(tmp_path / "ws_store"), spark=spark)
    st.put("w~/a", {"ts": "2024-01-01 00:00:00", "k": "k0", "v": 1.0})
    rest = RestFacade(st)
    # padded key names must resolve to the real columns, not crash
    r = rest.handle("GET", "w~/_aggregate", ts_field="ts", key_fields=" k ,",
                    value_field="v", schema="ts string, k string, v double")
    assert r.status == 200 and r.body["_embedded"]["els"][0]["k"] == "k0"
    r2 = rest.handle("GET", "w~/_aggregate", ts_field="ts", key_fields=" , ",
                     value_field="v", schema="ts string, k string, v double")
    assert r2.status == 400


def test_explain_route_surface(spark, tmp_path):
    """GET <coll>~/_explain plans without executing: base-table route
    with pushed sargable conjuncts and the residual-compiled flag for
    a plain filter; an index route (physical table + exact sort) once
    a matching index exists; the route that would serve it; 405 on
    non-GET; 404 on an unknown collection; 400 on an unparsable
    filter."""
    from hyper_storage_spark.plans import SortItem

    store = DocumentStore(str(tmp_path / "explain_rest"), spark=spark)
    facade = RestFacade(store)
    facade.put("docs~/i1", {"a": 5, "b": "x"})
    facade.put("docs~/i2", {"a": 1, "b": "y"})

    r = facade.handle("GET", "docs~/_explain", filter="a > 3")
    assert r.status == 200
    assert r.body["table"] == "content" and r.body["index_id"] is None
    # base-table route: nothing is sargable against the id clustering,
    # the whole predicate stays residual (and compiles)
    assert r.body["pushed_filters"] == [] and r.body["residual_compiled"] is True
    # a two-item collection is served on the driver, without a Spark job
    assert r.body["driver"] is True

    store.create_index("docs~", "by_b", [SortItem("b", "text", "asc")], None)
    r2 = facade.handle("GET", "docs~/_explain", filter='b = "x"', sort="b")
    assert r2.status == 200
    assert r2.body["index_id"] == "by_b" and r2.body["table"] != "content"
    # the EQ conjunct is pushed onto the index's physical sort column
    # and doubles as the clustering prefix
    assert [f["op"] for f in r2.body["pushed_filters"]] == ["EQ"]
    assert len(r2.body["ck_fields"]) == 1
    assert r2.body["exact_sort"] is True

    assert facade.handle("PUT", "docs~/_explain", {}).status == 405
    assert facade.handle("GET", "nope~/_explain").status == 404
    assert facade.handle("GET", "docs~/_explain", filter="a >").status == 400


def test_index_ddl_routes(spark, tmp_path):
    """The reference's index-DDL HTTP surface (hyperstorage.raml:100-123)
    on the reserved `<coll>~/_indexes` segment: POST → 201 {indexId,
    path}; duplicate → 409; GET per-id shape; DELETE → 204 then 404;
    invalid targets → 400/404."""
    store = DocumentStore(str(tmp_path / "ddl"), spark=spark)
    facade = RestFacade(store)
    facade.put("docs~/i1", {"a": 5, "b": "x"})
    facade.put("docs~/i2", {"a": 1, "b": "y"})

    r = facade.handle(
        "POST", "docs~/_indexes",
        {"indexId": "by_b", "sortBy": [{"fieldName": "b"}]},
    )
    assert r.status == 201
    assert r.body == {"indexId": "by_b", "path": "docs~"}
    assert r.headers["location"] == "docs~/_indexes/by_b"

    # duplicate id → 409 Conflict (IndexDefTaskWorker.scala:85-88)
    r2 = facade.handle("POST", "docs~/_indexes",
                       {"indexId": "by_b", "sortBy": [{"fieldName": "b"}]})
    assert r2.status == 409

    # server-generated id when omitted
    r3 = facade.handle("POST", "docs~/_indexes", {"sortBy": [{"fieldName": "a", "fieldType": "decimal", "order": "desc"}]})
    assert r3.status == 201 and r3.body["indexId"]

    # GET one: HyperStorageIndex shape + lifecycle status
    g = facade.handle("GET", "docs~/_indexes/by_b")
    assert g.status == 200
    assert g.body["indexId"] == "by_b" and g.body["status"] == "NORMAL"
    assert g.body["sortBy"] == [{"fieldName": "b", "fieldType": "text", "order": "asc"}]
    assert g.body["filterBy"] is None

    # filterBy round-trips on a filtered index
    facade.handle("POST", "docs~/_indexes",
                  {"indexId": "pos_a", "sortBy": [{"fieldName": "b"}], "filterBy": "a > 0"})
    assert facade.handle("GET", "docs~/_indexes/pos_a").body["filterBy"] == "a > 0"
    assert facade.handle("DELETE", "docs~/_indexes/pos_a").status == 204

    # GET list contains both
    lst = facade.handle("GET", "docs~/_indexes")
    assert {e["indexId"] for e in lst.body["_embedded"]["els"]} == {"by_b", r3.body["indexId"]}

    # the created index actually serves queries (planner visibility)
    ex = facade.handle("GET", "docs~/_explain", filter='b = "x"', sort="b")
    assert ex.body["index_id"] == "by_b"

    # DELETE → 204 (reference NoContent); gone afterwards; planner falls back
    d = facade.handle("DELETE", "docs~/_indexes/by_b")
    assert d.status == 204
    assert facade.handle("GET", "docs~/_indexes/by_b").status == 404
    assert facade.handle("DELETE", "docs~/_indexes/by_b").status == 404
    ex2 = facade.handle("GET", "docs~/_explain", filter='b = "x"', sort="b")
    assert ex2.status == 200 and ex2.body["index_id"] is None
    # collection query still answers correctly off the base table
    q = facade.get("docs~", filter='b = "x"')
    assert q.status == 200 and [e["id"] for e in q.body["_embedded"]["els"]] == ["i1"]

    # errors: non-collection target, bad filter, bad verb, bad sort item
    assert facade.handle("POST", "plain_doc/_indexes", {"sortBy": []}).status == 400
    assert facade.handle(
        "POST", "docs~/_indexes", {"sortBy": [{"fieldName": "b"}], "filterBy": "a >"}
    ).status == 400
    assert facade.handle("PATCH", "docs~/_indexes", {}).status == 405
    assert facade.handle("POST", "docs~/_indexes", {"sortBy": [{"order": "asc"}]}).status == 400


def test_index_ddl_background_lifecycle(spark, tmp_path):
    """POST with background=true registers INDEXING (visible in GET but
    not serving), and process_pending_indexes flips it to NORMAL — the
    reference's async IndexDefTaskWorker → IndexContentTaskWorker path."""
    store = DocumentStore(str(tmp_path / "ddl_bg"), spark=spark)
    facade = RestFacade(store)
    for i in range(5):
        facade.put(f"bg~/i{i}", {"v": i})

    r = facade.handle("POST", "bg~/_indexes",
                      {"indexId": "by_v", "sortBy": [{"fieldName": "v", "fieldType": "decimal"}],
                       "background": True})
    assert r.status == 201
    g = facade.handle("GET", "bg~/_indexes/by_v")
    assert g.body["status"] == "INDEXING"
    # an INDEXING index must not serve queries yet
    ex = facade.handle("GET", "bg~/_explain", sort="v")
    assert ex.body["index_id"] is None

    store.process_pending_indexes()
    g2 = facade.handle("GET", "bg~/_indexes/by_v")
    assert g2.body["status"] == "NORMAL"
    ex2 = facade.handle("GET", "bg~/_explain", sort="v")
    assert ex2.body["index_id"] == "by_v"


def test_transaction_status_route(spark, tmp_path):
    """GET _transactions/{transactionId} (hyperstorage.raml:90-98): every
    write verb returns a transactionId body; the status route reads the
    write's feed event and reports completion, which every write has on return;
    unknown/malformed ids → 404."""
    store = DocumentStore(str(tmp_path / "txns"), spark=spark)
    facade = RestFacade(store)

    r = facade.put("t~/i1", {"v": 1})
    assert r.status == 201
    tid = r.body["transactionId"]
    assert r.body["path"] == "t~/i1"
    g = facade.handle("GET", f"_transactions/{tid}")
    assert g.status == 200
    assert g.body["transactionId"] == tid
    assert g.body["path"] == "t~/i1" and g.body["revision"] == 1
    assert g.body["method"] == "feed:put" and g.body["completed"] is True

    # replace (200) / patch / delete / post all carry transaction ids
    r2 = facade.put("t~/i1", {"v": 2})
    assert r2.status == 200 and "path" not in r2.body
    p = facade.patch("t~/i1", {"w": 3})
    d = facade.delete("t~/i1")
    c = facade.post("t~", {"v": 9})
    for resp, meth in ((r2, "feed:put"), (p, "feed:patch"), (d, "feed:delete"), (c, "feed:put")):
        body = facade.handle("GET", f"_transactions/{resp.body['transactionId']}").body
        assert body["method"] == meth and body["completed"] is True

    assert facade.handle("GET", "_transactions/not-a-real-id").status == 404
    assert facade.handle("GET", "_transactions/12345-0-deadbeef").status == 404
    assert facade.handle("DELETE", "_transactions/x").status == 405


def test_index_ddl_feed_events(spark, tmp_path):
    """Index create/delete publish CDC events on the feed log (the
    reference's IndexDefTaskWorker lifecycle path): method
    feed:indexpost / feed:indexdelete, item_id = index id, revision 0,
    body = the index definition envelope."""
    import json

    store = DocumentStore(str(tmp_path / "ddlfeed"), spark=spark)
    store.put("f~/i1", {"b": "x"})
    store.create_index("f~", "by_b", [], filter_by=None)
    store.delete_index("f~", "by_b")

    ddl = [e for e in store.feed_events() if e["method"].startswith("feed:index")]
    assert [e["method"] for e in ddl] == ["feed:indexpost", "feed:indexdelete"]
    for e in ddl:
        assert e["document_uri"] == "f~" and e["item_id"] == "by_b" and e["revision"] == 0
        env = json.loads(e["body"])
        assert env["indexId"] == "by_b" and "sortBy" in env and "filterBy" in env


def test_index_ddl_malformed_bodies_are_400(spark, tmp_path):
    """r11 review: non-dict bodies and non-dict sortBy items must map to
    400, never an AttributeError escaping handle()."""
    store = DocumentStore(str(tmp_path / "ddl400"), spark=spark)
    facade = RestFacade(store)
    facade.put("docs~/i1", {"b": "x"})
    for bad_body in (["not", "a", "dict"], "str", 42,
                     {"sortBy": ["b"]}, {"sortBy": "b"}, {"sortBy": [1]}):
        r = facade.handle("POST", "docs~/_indexes", bad_body)
        assert r.status == 400, (bad_body, r.status, r.body)


def test_streams_readback_routes(spark, tmp_path):
    """r12 (VERDICT item 8): the `_streams` routes serve registered
    foreachBatch state dirs over the facade — corpus stats, heavy
    hitters, expectations counts, and the quarantine (size-capped,
    total in the header). Streaming state was the one store surface
    REST did not reach."""
    from hyper_storage_spark.operators import dedup as dd
    from hyper_storage_spark.operators import expectations as ex
    from hyper_storage_spark.operators import sketches as sk

    cs = str(tmp_path / "cs")
    dd.streaming_corpus_stats(cs, run_id="t")(
        spark.createDataFrame(
            [(i, f"text {i}", "en" if i % 2 else "fr") for i in range(20)],
            "doc_id long, text string, lang string",
        ),
        0,
    )
    hh = str(tmp_path / "hh")
    sk.streaming_heavy_hitters(hh, "v", phi=0.2, run_id="t")(
        spark.createDataFrame([("whale",)] * 30 + [("x",), ("y",)], "v string"), 0
    )
    exp = str(tmp_path / "exp")
    ex.streaming_expectations(exp, [ex.in_range("score", 0.0, 1.0)], run_id="t")(
        spark.createDataFrame(
            [(i, 0.5) for i in range(5)] + [(9, 7.0), (10, 8.0)],
            "id long, score double",
        ),
        0,
    )
    empty = str(tmp_path / "empty")  # registered but never committed

    facade = RestFacade(
        DocumentStore(str(tmp_path / "store"), spark=spark),
        streams={"corpus": cs, "hot": hh, "gate": exp, "cold": empty},
    )

    r = facade.handle("GET", "_streams")
    assert r.status == 200
    assert r.body == {"streams": ["cold", "corpus", "gate", "hot"]}

    r = facade.handle("GET", "_streams/corpus/corpus-stats")
    assert r.status == 200
    got = {s["lang"]: s["n_docs"] for s in r.body["stats"]}
    assert got == {"en": 10, "fr": 10}

    r = facade.handle("GET", "_streams/hot/heavy-hitters")
    assert r.status == 200
    vals = {h["value"] for h in r.body["heavy_hitters"]}
    assert "whale" in vals
    # phi override: larger allowed, smaller is the reader's ValueError -> 400
    assert facade.handle("GET", "_streams/hot/heavy-hitters", phi="0.5").status == 200
    assert facade.handle("GET", "_streams/hot/heavy-hitters", phi="0.01").status == 400

    r = facade.handle("GET", "_streams/gate/expectations")
    assert r.status == 200
    assert r.body["rules"] == [
        {"rule": "in_range(score,0.0,1.0)", "n_rows": 7, "n_violations": 2, "passed": False}
    ]

    r = facade.handle("GET", "_streams/gate/quarantine", size="1")
    assert r.status == 200
    assert r.headers["total-count"] == "2"
    assert len(r.body["quarantined"]) == 1
    assert r.body["quarantined"][0]["id"] == 9  # deterministic order

    # array payloads must not break the quarantine page order (only
    # atomic columns participate in the sort)
    import pyspark.sql.functions as F

    exp2 = str(tmp_path / "exp2")
    ex.streaming_expectations(exp2, [ex.not_null("id")], run_id="t")(
        spark.createDataFrame([(1, [1, 2]), (None, [3])],
                              "id long, tags array<long>"),
        0,
    )
    facade2 = RestFacade(
        DocumentStore(str(tmp_path / "store2"), spark=spark), streams={"g": exp2}
    )
    r2 = facade2.handle("GET", "_streams/g/quarantine")
    assert r2.status == 200 and r2.headers["total-count"] == "1"
    assert r2.body["quarantined"][0]["tags"] == [3]

    # error surface: unknown stream / kind, uncommitted state, verb
    assert facade.handle("GET", "_streams/ghost/corpus-stats").status == 404
    assert facade.handle("GET", "_streams/corpus/nope").status == 400
    assert facade.handle("GET", "_streams/cold/corpus-stats").status == 404
    assert facade.handle("PUT", "_streams/corpus/corpus-stats", {}).status == 405


def test_streams_sample_route(spark, tmp_path):
    """r12 follow-up: the `_streams/<name>/sample` route serves the
    persisted bottom-k-by-hash uniform sample."""
    from hyper_storage_spark.operators import sampling as sm

    st = str(tmp_path / "smp")
    sm.streaming_uniform_sample(st, id_col="event_id", payload_cols=("v",),
                                k=4, run_id="t")(
        spark.createDataFrame([(i, f"p{i}") for i in range(50)],
                              "event_id long, v string"),
        0,
    )
    facade = RestFacade(
        DocumentStore(str(tmp_path / "store"), spark=spark), streams={"s": st}
    )
    r = facade.handle("GET", "_streams/s/sample")
    assert r.status == 200
    rows = r.body["sample"]
    assert len(rows) == 4
    assert all("event_id" in x and "v" in x for x in rows)
    # deterministic: re-read returns the identical payload
    assert facade.handle("GET", "_streams/s/sample").body["sample"] == rows
