"""Structured Streaming paths: command ingest (single-writer semantics),
stateful revision assignment, change-feed consumption."""

import json
import time

import pytest

from hyper_storage_spark.store import DocumentStore
from hyper_storage_spark.streaming import (
    assign_revisions_stream,
    feed_readstream,
    run_command_stream,
    write_commands,
)


def test_command_stream_ingest(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    cmds = str(tmp_path / "commands")
    ckpt = str(tmp_path / "ckpt")

    write_commands(
        cmds,
        [
            {"seq": 1, "method": "put", "path": "doc1", "body": {"a": 1}},
            {"seq": 2, "method": "put", "path": "col~/x", "body": {"v": 1}},
            {"seq": 3, "method": "patch", "path": "doc1", "body": {"b": 2}},
        ],
    )
    write_commands(
        cmds,
        [
            {"seq": 4, "method": "put", "path": "col~/y", "body": {"v": 2}},
            {"seq": 5, "method": "delete", "path": "col~/x", "body": None},
        ],
    )
    run_command_stream(spark, store, cmds, ckpt)

    body, rev = store.get("doc1")
    assert body == {"a": 1, "b": 2} and rev == 2
    body, rev = store.get("col~/y")
    assert body["v"] == 2 and rev == 3  # gapless per-collection counter
    evs = [(e["document_uri"], e["item_id"], e["method"], e["revision"]) for e in store.feed_events()]
    assert ("col~", "x", "feed:delete", 3) in evs

    # restart with the same checkpoint: nothing re-applies
    run_command_stream(spark, store, cmds, ckpt)
    _, rev2 = store.get("doc1")
    assert rev2 == 2


def test_command_stream_resume_processes_only_new(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    cmds = str(tmp_path / "commands")
    ckpt = str(tmp_path / "ckpt")
    write_commands(cmds, [{"seq": 1, "method": "put", "path": "d", "body": {"n": 1}}])
    run_command_stream(spark, store, cmds, ckpt)
    write_commands(cmds, [{"seq": 2, "method": "put", "path": "d", "body": {"n": 2}}])
    run_command_stream(spark, store, cmds, ckpt)
    body, rev = store.get("d")
    assert body == {"n": 2} and rev == 2


def test_stateful_revision_assignment(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "cmdstream"
    src.mkdir()
    schema = pa.schema(
        [("document_uri", pa.string()), ("seq", pa.int64()), ("method", pa.string()), ("body", pa.string())]
    )
    # two files => two micro-batches (maxFilesPerTrigger=1); state must
    # carry revisions across batches
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"document_uri": "a", "seq": 1, "method": "put", "body": "{}"},
                {"document_uri": "b", "seq": 2, "method": "put", "body": "{}"},
                {"document_uri": "a", "seq": 3, "method": "patch", "body": "{}"},
            ],
            schema=schema,
        ),
        str(src / "f1.parquet"),
    )
    time.sleep(0.05)
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"document_uri": "a", "seq": 4, "method": "put", "body": "{}"},
                {"document_uri": "b", "seq": 5, "method": "delete", "body": None},
            ],
            schema=schema,
        ),
        str(src / "f2.parquet"),
    )

    commands = (
        spark.readStream.schema("document_uri string, seq long, method string, body string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = assign_revisions_stream(commands)
    q = (
        out.writeStream.format("memory")
        .queryName("revs_out")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT document_uri, seq, revision FROM revs_out ORDER BY document_uri, seq").collect()
    got = [(r.document_uri, r.seq, r.revision) for r in rows]
    assert got == [("a", 1, 1), ("a", 3, 2), ("a", 4, 3), ("b", 2, 1), ("b", 5, 2)]


def test_feed_readstream(spark, tmp_path):
    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    store.put("doc1", {"a": 1})
    store.put("doc1", {"a": 2})
    store.delete("doc1")
    stream = feed_readstream(spark, store)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("feed_out")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT method, revision FROM feed_out WHERE document_uri='doc1' ORDER BY revision"
    ).collect()
    assert [(r.method, r.revision) for r in rows] == [
        ("feed:put", 1),
        ("feed:put", 2),
        ("feed:delete", 3),
    ]


def test_windowed_event_counts_stream_matches_batch(spark, tmp_path, sf_dir):
    from pyspark.sql import functions as F

    from hyper_storage_spark.sources import load_table
    from hyper_storage_spark.streaming import windowed_event_counts

    # replay the events table as a stream (ts already normalized to µs)
    src = str(tmp_path / "events_stream")
    batch = load_table(spark, sf_dir, "events")
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 2).parquet(src)
    out = windowed_event_counts(stream, window="1 day", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_win"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    expected = {
        (r.ws, r.event_type): (r.n, r.total_value)
        for r in batch.groupBy(
            F.date_trunc("day", "ts").alias("ws"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
        .collect()
    }
    # append mode emits only watermark-closed windows; the final window
    # may be withheld — everything emitted must match the batch result
    assert len(got) >= len(expected) - 5 * 1  # ≤1 open window per type
    for k, v in got.items():
        assert expected[k] == v


def test_distributed_batch_applies_on_executors(spark, tmp_path):
    """One micro-batch touching several documents must be applied by
    the bucket-grouped executor path (staged *-stream-* bucket files +
    one manifest flip), not a driver-side row loop — per-document seq
    order and gapless revisions intact."""
    import glob

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    cmds = str(tmp_path / "commands")
    ckpt = str(tmp_path / "ckpt")
    write_commands(
        cmds,
        [
            {"seq": 1, "method": "put", "path": "docA", "body": {"n": 1}},
            {"seq": 2, "method": "put", "path": "docB", "body": {"m": 1}},
            {"seq": 3, "method": "patch", "path": "docA", "body": {"n2": 2}},
            {"seq": 4, "method": "put", "path": "kol~/i1", "body": {"v": 10}},
            {"seq": 5, "method": "patch", "path": "docB", "body": {"m2": 9}},
        ],
    )
    run_command_stream(spark, store, cmds, ckpt)

    a_body, a_rev = store.get("docA")
    b_body, b_rev = store.get("docB")
    assert a_body == {"n": 1, "n2": 2} and a_rev == 2
    assert b_body == {"m": 1, "m2": 9} and b_rev == 2
    i_body, i_rev = store.get("kol~/i1")
    assert i_body["v"] == 10 and i_rev == 1

    # the executor path stages per-bucket files; a driver-side row
    # loop would never create these
    staged = glob.glob(str(tmp_path / "store" / "data" / "*" / "*-stream-*.parquet"))
    assert staged, "distributed write path did not run"

    # feed events were published through the driver's single append
    evs = {(e["document_uri"], e["revision"], e["method"]) for e in store.feed_events()}
    assert {("docA", 1, "feed:put"), ("docA", 2, "feed:patch"),
            ("docB", 1, "feed:put"), ("docB", 2, "feed:patch"),
            ("kol~", 1, "feed:put")} <= evs


def test_collection_delete_falls_back_to_serial(spark, tmp_path):
    """A batch containing a collection-document delete must still apply
    correctly (it runs as ONE group: INDEX_DEFS is a global bucket)."""
    from hyper_storage_spark.plans import SortItem

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    store.put("gone~/x", {"a": 1})
    store.create_index("gone~", "bya", [SortItem("a", "decimal", "asc")], None)
    cmds = str(tmp_path / "commands")
    ckpt = str(tmp_path / "ckpt")
    write_commands(
        cmds,
        [
            {"seq": 1, "method": "put", "path": "keep", "body": {"k": 1}},
            {"seq": 2, "method": "delete", "path": "gone~", "body": None},
        ],
    )
    run_command_stream(spark, store, cmds, ckpt)
    assert store.get("keep")[0] == {"k": 1}
    import pytest as _pytest

    with _pytest.raises(KeyError):
        store.get("gone~/x")
    assert store.index_defs("gone~") == []


def test_serial_fallback_crash_replay_exactly_once(spark, tmp_path):
    """Crash-injection for a collection-delete (one-group) batch: kill the batch AT
    the manifest flip (after the per-command writes are staged and the
    feed append landed), then replay. Exactly-once for store state means
    the replay must not double-apply the already-staged prefix: document
    revisions come out gapless and unduplicated, the collection delete
    lands once, and no command or feed event is lost."""
    from hyper_storage_spark.plans import SortItem

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    store.put("docs~/x", {"a": 1})  # docs~ revision 1
    store.put("docs~/y", {"a": 2})  # docs~ revision 2
    store.put("gone~/z", {"g": 1})  # gone~ revision 1
    store.create_index("gone~", "byg", [SortItem("g", "decimal", "asc")], None)
    cmds = str(tmp_path / "commands")
    ckpt = str(tmp_path / "ckpt")
    write_commands(
        cmds,
        [
            {"seq": 1, "method": "put", "path": "docs~/w", "body": {"a": 3}},
            {"seq": 2, "method": "delete", "path": "gone~", "body": None},
            {"seq": 3, "method": "put", "path": "docs~/v", "body": {"a": 4}},
        ],
    )

    real_flip = store.storage.commit_external_many

    def boom(*a, **k):
        raise RuntimeError("injected crash at the manifest flip")

    store.storage.commit_external_many = boom
    with pytest.raises(Exception, match="injected crash|Query.*terminated"):
        run_command_stream(spark, store, cmds, ckpt)
    store.storage.commit_external_many = real_flip

    # crash before the flip ⇒ NOTHING of the batch is visible and the
    # watermark did not advance: revisions unchanged, no partial prefix
    assert store.get("docs~/x")[1] == 2
    with pytest.raises(KeyError):
        store.get("docs~/w")
    assert store.get("gone~/z")[1] == 1
    assert [d.index_id for d in store.index_defs("gone~")] == ["byg"]

    # replay: the un-checkpointed batch re-delivers and applies ONCE
    run_command_stream(spark, store, cmds, ckpt)
    assert store.get("docs~/w")[0]["a"] == 3
    assert store.get("docs~/v")[0]["a"] == 4
    # 2 setup puts + exactly 2 batch puts — a double-applied prefix
    # would mint revision 5+
    assert store.get("docs~/w")[1] == 4
    with pytest.raises(KeyError):
        store.get("gone~/z")
    assert store.index_defs("gone~") == []
    # feed: at-least-once (the pre-crash append may duplicate), but
    # deduped by (uri, revision) nothing is lost and nothing extra made
    docs_revs = sorted(
        {e["revision"] for e in store.feed_events() if e["document_uri"] == "docs~"}
    )
    assert docs_revs == [1, 2, 3, 4]
    assert store.storage.all_rows("dead_letter") == []


def test_ingest_batch_replay_is_idempotent(spark, tmp_path):
    # simulate the crash window: same batch id delivered twice must not
    # re-apply (revisions would double otherwise)
    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    cmds = str(tmp_path / "commands")
    ckpt = str(tmp_path / "ckpt")
    write_commands(cmds, [{"seq": 1, "method": "put", "path": "dd", "body": {"x": 1}}])
    run_command_stream(spark, store, cmds, ckpt)
    _, rev1 = store.get("dd")
    # wipe the checkpoint (worst-case replay of every batch) but keep
    # the store's watermark: nothing re-applies
    import shutil

    shutil.rmtree(ckpt)
    run_command_stream(spark, store, cmds, ckpt)
    body, rev2 = store.get("dd")
    assert rev2 == rev1 == 1 and body == {"x": 1}


def test_session_window_stream_matches_batch(spark, tmp_path, sf_dir):
    """F.session_window on a replayed stream must produce exactly the
    batch session_window result (closed sessions only in append mode),
    and agree with the lag-based batch sessionization on session
    counts per user."""
    from hyper_storage_spark.sources import load_table
    from hyper_storage_spark.streaming import session_windows

    src = str(tmp_path / "events_stream")
    batch = load_table(spark, sf_dir, "events")
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 2).parquet(src)
    out = session_windows(stream, gap="30 minutes", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    expected = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in session_windows(batch, gap="30 minutes", watermark="1 hour").collect()
    }
    # append mode emits only watermark-closed sessions; everything
    # emitted must match the batch computation exactly
    assert got, "stream emitted no sessions"
    for k, v in got.items():
        assert expected[k] == v


def test_vacuum_reclaims_superseded_stream_staging_files(spark, tmp_path, monkeypatch):
    """Staged bucket files from streaming batches become unreferenced
    once later writes supersede them; vacuum() must reclaim them.
    (The staging floor is lowered: this single-process test WANTS
    immediate reclaim; the floor exists for concurrent cross-process
    staging windows — see DocumentStore.STAGING_GRACE_S.)"""
    import glob

    monkeypatch.setattr(DocumentStore, "STAGING_GRACE_S", 0.0)
    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    cmds = str(tmp_path / "commands")
    write_commands(cmds, [{"seq": 1, "method": "put", "path": "vdoc", "body": {"a": 1}}])
    run_command_stream(spark, store, cmds, str(tmp_path / "ck1"))
    # supersede the streamed bucket with a direct write, then vacuum
    # (keep_versions=0: drop time-travel pins for immediate reclaim)
    store.put("vdoc", {"a": 2})
    removed = store.vacuum(grace_seconds=0, keep_versions=0)
    assert removed > 0
    leftover = glob.glob(str(tmp_path / "store" / "data" / "*" / "*-stream-*.parquet"))
    referenced = set()
    for t in store.storage.tables():
        referenced.update(store.storage.files(t))
    assert all(f in referenced for f in leftover)
    assert store.get("vdoc")[0] == {"a": 2}


def test_stream_dedup_matches_batch_distinct(spark, tmp_path, sf_dir):
    """The watermarked streaming dedup must emit exactly the batch
    DISTINCT of the keys when all duplicates arrive within the
    watermark horizon (here: the replayed events table doubled, so
    every row has at least one duplicate)."""
    from pyspark.sql import functions as F

    from hyper_storage_spark.sources import load_table
    from hyper_storage_spark.streaming import stream_dedup

    src = str(tmp_path / "dup_stream")
    batch = load_table(spark, sf_dir, "events").limit(2000)
    doubled = batch.union(batch)
    doubled.write.parquet(src)

    stream = (
        spark.readStream.schema(doubled.schema).option("maxFilesPerTrigger", 2).parquet(src)
    )
    out = stream_dedup(stream, ["event_id"], watermark="10 days")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.sql("SELECT event_id FROM dedup_out").collect()
    ids = [r.event_id for r in got]
    expected = {r.event_id for r in batch.select("event_id").distinct().collect()}
    assert len(ids) == len(set(ids)), "emitted duplicates"
    assert set(ids) == expected


def test_malformed_commands_dead_letter_not_poison(spark, tmp_path):
    """A bad producer row must be dead-lettered, not crash the batch:
    Structured Streaming retries a failing batch forever, so a poison
    pill would halt ingestion permanently."""
    from hyper_storage_spark.streaming.ingest import DEAD_LETTER

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hyper_storage_spark.plans.model import SortItem
    from hyper_storage_spark.streaming.ingest import COMMANDS_ARROW

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    # a registered template makes the driver's pre-instantiation loop
    # walk every distinct path in the batch — including the None path,
    # which must be skipped there, not crash foreachBatch
    store.create_index_template("tpl/*~", "auto", [SortItem("a", "decimal", "asc")])
    cmds = str(tmp_path / "commands")
    write_commands(
        cmds,
        [
            {"seq": 1, "method": "put", "path": "good", "body": {"a": 1}},
            # collection item bodies must be objects — ValueError inside put
            {"seq": 2, "method": "put", "path": "coll~/i1", "body": "not-an-object"},
            {"seq": 3, "method": "frobnicate", "path": "x", "body": {}},
            {"seq": 4, "method": "put", "path": "also-good", "body": {"b": 2}},
            {"seq": 7, "method": "put", "path": "tpl/t~/i1", "body": {"a": 9}},
        ],
    )
    # rows write_commands cannot produce but a hostile producer can:
    # a None path and a body that is not valid JSON
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"seq": 5, "method": "put", "path": None, "body": "{}"},
                {"seq": 6, "method": "put", "path": "bad-json", "body": "{not json"},
            ],
            schema=COMMANDS_ARROW,
        ),
        f"{cmds}/hostile.parquet",
    )
    run_command_stream(spark, store, cmds, str(tmp_path / "ckpt"))
    assert store.get("good")[0] == {"a": 1}
    assert store.get("also-good")[0] == {"b": 2}
    assert store.get("tpl/t~/i1")[0]["a"] == 9
    assert [d.index_id for d in store.index_defs("tpl/t~")] == ["auto"]
    dead = store.storage.all_rows(DEAD_LETTER)
    assert sorted(d["seq"] for d in dead) == [2, 3, 5, 6]
    assert all(d["error"] for d in dead)


def test_distributed_batch_instantiates_templates_for_all_collections(spark, tmp_path):
    """Two collections in different buckets, one micro-batch, one
    matching template: BOTH must end up with the concrete index (the
    driver instantiates before the fan-out; executor groups must never
    both stage the global INDEX_DEFS bucket)."""
    from hyper_storage_spark.plans.model import STATUS_NORMAL, SortItem
    from hyper_storage_spark.store.storage import bucket_of

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    store.create_index_template("feeds/*~", "by_r", [SortItem("r", "decimal", "asc")])
    # pick two collection names that land in different buckets
    a, b = "feeds/a~", None
    for cand in ("feeds/b~", "feeds/c~", "feeds/d~", "feeds/e~"):
        if bucket_of(cand, store.storage.n_buckets) != bucket_of(a, store.storage.n_buckets):
            b = cand
            break
    assert b is not None
    write_commands(
        str(tmp_path / "commands"),
        [
            {"seq": 1, "method": "put", "path": f"{a}/i1", "body": {"r": 1}},
            {"seq": 2, "method": "put", "path": f"{b}/i1", "body": {"r": 2}},
        ],
    )
    run_command_stream(spark, store, str(tmp_path / "commands"), str(tmp_path / "ckpt"))
    for uri in (a, b):
        defs = store.index_defs(uri)
        assert [d.index_id for d in defs] == ["by_r"], uri
        assert defs[0].status == STATUS_NORMAL
        assert store.get(f"{uri}/i1")[0]["r"] in (1, 2)


def test_watermark_rides_in_manifest_and_resets(spark, tmp_path):
    """The batch watermark commits atomically with the manifest flip,
    and reset_stream_watermark allows checkpoint-delete reprocessing
    (without it, replayed batch ids are silently skipped)."""
    import shutil

    from hyper_storage_spark.streaming.ingest import reset_stream_watermark

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    cmds = str(tmp_path / "commands")
    ckpt = str(tmp_path / "ckpt")
    write_commands(cmds, [{"seq": 1, "method": "put", "path": "w", "body": {"n": 1}}])
    run_command_stream(spark, store, cmds, ckpt)
    assert store.get("w")[1] == 1
    # reprocess from scratch: delete checkpoint + reset watermark
    shutil.rmtree(ckpt)
    reset_stream_watermark(store, ckpt)
    run_command_stream(spark, store, cmds, ckpt)
    # the replayed put re-applies (at-least-once across manual resets)
    assert store.get("w")[1] == 2
    # without the reset, a stale watermark would have skipped batch 0
    shutil.rmtree(ckpt)
    run_command_stream(spark, store, cmds, ckpt)
    assert store.get("w")[1] == 2  # skipped: watermark still at batch 0


def test_revision_assignment_sorts_across_arrow_chunks(spark, tmp_path):
    """A group's micro-batch arrives as MULTIPLE Arrow chunks; revisions
    must follow global seq order, not per-chunk order (pinned with a
    3-row batch size so one doc's commands span several chunks)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hyper_storage_spark.streaming import assign_revisions_stream

    src = tmp_path / "chunked"
    src.mkdir()
    schema = pa.schema(
        [("document_uri", pa.string()), ("seq", pa.int64()), ("method", pa.string()), ("body", pa.string())]
    )
    rows = [{"document_uri": "d", "seq": s, "method": "put", "body": "{}"} for s in range(1, 11)]
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), str(src / "f1.parquet"))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = spark.readStream.schema(
            "document_uri string, seq long, method string, body string"
        ).parquet(str(src))
        q = (
            assign_revisions_stream(stream)
            .writeStream.format("memory")
            .queryName("rev_chunks")
            .option("checkpointLocation", str(tmp_path / "ckpt_rev"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            r.seq: r.revision for r in spark.sql("SELECT * FROM rev_chunks").collect()
        }
        assert got == {s: s for s in range(1, 11)}
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_streaming_vacuum_reclaims_crash_orphans(spark, tmp_path, monkeypatch):
    """A batch that crashes at the manifest flip leaves its staged
    bucket files on disk by design (the flip owns cleanup semantics);
    the replay stages FRESH files. The vacuum wired into the streaming
    path must reclaim the orphans, and every surviving data file must
    be manifest-referenced. (Staging floor lowered: no concurrent
    writers here — see DocumentStore.STAGING_GRACE_S.)"""
    import glob
    import os

    monkeypatch.setattr(DocumentStore, "STAGING_GRACE_S", 0.0)
    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    cmds = str(tmp_path / "commands")
    ckpt = str(tmp_path / "ckpt")
    write_commands(cmds, [{"seq": 1, "method": "put", "path": "orph", "body": {"a": 1}}])

    real_flip = store.storage.commit_external_many

    def boom(*a, **k):
        raise RuntimeError("injected crash at the manifest flip")

    store.storage.commit_external_many = boom
    with pytest.raises(Exception):
        run_command_stream(spark, store, cmds, ckpt)
    store.storage.commit_external_many = real_flip

    orphans = glob.glob(str(tmp_path / "store" / "data" / "*" / "*-stream-*.parquet"))
    assert orphans, "crashed batch left no staged files to orphan"

    # replay with per-batch vacuum and no grace (no concurrent writers
    # in this test): the batch applies, then GC reclaims the orphans —
    # crashed-attempt staging is in NO manifest (current or snapshot),
    # so default snapshot retention cannot pin it
    run_command_stream(spark, store, cmds, ckpt, vacuum_every=1, vacuum_grace=0.0)
    assert store.get("orph")[0] == {"a": 1}
    assert not [p for p in orphans if os.path.exists(p)], "crash orphans survived GC"
    # with time-travel pins dropped, nothing unreferenced survives
    store.vacuum(grace_seconds=0, keep_versions=0)
    referenced = set()
    for table in store.storage.tables():
        referenced.update(os.path.abspath(p) for p in store.storage.files(table))
    on_disk = {
        os.path.abspath(p)
        for p in glob.glob(str(tmp_path / "store" / "data" / "**" / "*.parquet"), recursive=True)
    }
    assert on_disk <= referenced, f"unreferenced files survive GC: {sorted(on_disk - referenced)[:5]}"


def test_serial_staged_batch_instantiates_templates(spark, tmp_path):
    """A collection-delete batch (applied as one group) that ALSO
    creates a template-matched collection must instantiate the concrete
    index through the overlay store — DDL, backfill, and the delete all
    land in the one staged flip."""
    from hyper_storage_spark.plans.model import STATUS_NORMAL, SortBy, SortItem

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    store.create_index_template("tpl/*~", "by_v", [SortItem("v", "decimal", "asc")])
    store.put("gone~/x", {"a": 1})
    cmds = str(tmp_path / "commands")
    write_commands(
        cmds,
        [
            {"seq": 1, "method": "put", "path": "tpl/a~/i1", "body": {"v": 5}},
            {"seq": 2, "method": "delete", "path": "gone~", "body": None},
            {"seq": 3, "method": "put", "path": "tpl/a~/i2", "body": {"v": 3}},
        ],
    )
    run_command_stream(spark, store, cmds, str(tmp_path / "ckpt"))
    defs = store.index_defs("tpl/a~")
    assert [(d.index_id, d.status) for d in defs] == [("by_v", STATUS_NORMAL)]
    with pytest.raises(KeyError):
        store.get("gone~/x")
    # the instantiated index actually serves queries, sorted by v
    res = store.query("tpl/a~", sort=[SortBy("v")], size=10)
    assert [i["id"] for i in res.items] == ["i2", "i1"]
    assert res.plan.index_id == "by_v"


def test_collection_delete_batch_recreate_and_template_memo(spark, tmp_path):
    """A collection deleted and re-created inside ONE batch must come
    back with a fresh index that agrees with its content (re-creation
    resurrects the pre-delete items — reference parity, see
    test_collection_recreate_resurrects_items_reference_parity). A
    collection the batch only deletes must get its template index again
    on the driver store's next write (the batch clears the driver
    store's template memo)."""
    from hyper_storage_spark.plans.model import SortBy, SortItem

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    store.create_index_template("tpl/*~", "by_v", [SortItem("v", "decimal", "asc")])
    for i in range(12):
        store.put(f"tpl/a~/old{i}", {"v": i})
    store.put("tpl/b~/old", {"v": 1})
    cmds = str(tmp_path / "commands")
    write_commands(
        cmds,
        [
            {"seq": 1, "method": "delete", "path": "tpl/a~", "body": None},
            {"seq": 2, "method": "put", "path": "tpl/a~/new", "body": {"v": 100}},
            {"seq": 3, "method": "delete", "path": "tpl/b~", "body": None},
        ],
    )
    run_command_stream(spark, store, cmds, str(tmp_path / "ckpt"))

    res = store.query("tpl/a~", sort=[SortBy("v")], size=50)
    assert res.plan.index_id == "by_v"
    assert [i["id"] for i in res.items] == [f"old{i}" for i in range(12)] + ["new"]
    assert store.index_defs("tpl/b~") == []
    store.put("tpl/b~/z", {"v": 2})
    assert [d.index_id for d in store.index_defs("tpl/b~")] == ["by_v"]


def test_streaming_compaction_hook_bounds_feed_files(spark, tmp_path):
    """compact_every in the ingest loop must bound the append-only
    feed's file count across many batches without losing events."""
    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    cmds = str(tmp_path / "commands")
    ckpt = str(tmp_path / "ckpt")
    # 6 files × maxFilesPerTrigger=4 ⇒ at least 2 batches; every batch
    # publishes feed events, compaction runs after each batch
    for i in range(6):
        write_commands(cmds, [
            {"seq": 2 * i, "method": "put", "path": f"d{i}", "body": {"n": i}},
            {"seq": 2 * i + 1, "method": "put", "path": f"e{i}", "body": {"n": i}},
        ])
    run_command_stream(spark, store, cmds, ckpt, compact_every=1, vacuum_every=1, vacuum_grace=0.0)
    evs = {(e["document_uri"], e["revision"]) for e in store.feed_events()}
    assert evs == {(f"{p}{i}", 1) for p in "de" for i in range(6)}
    # one compacted file + at most one fresh post-compaction append
    assert len(store.storage.files("feed")) <= 2


def test_compact_appends_covers_dead_letters(spark, tmp_path):
    """Dead letters are an append-only table too: per-batch malformed
    commands accumulate one file each; compaction merges them with
    nothing lost."""
    from hyper_storage_spark.streaming.ingest import DEAD_LETTER

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    cmds = str(tmp_path / "commands")
    for i in range(3):
        write_commands(cmds, [
            {"seq": 2 * i, "method": "put", "path": f"ok{i}", "body": {"n": i}},
            {"seq": 2 * i + 1, "method": "bogus", "path": f"x{i}", "body": {}},
        ])
    run_command_stream(spark, store, cmds, str(tmp_path / "ckpt"))
    before = sorted(d["seq"] for d in store.storage.all_rows(DEAD_LETTER))
    n_files = len(store.storage.files(DEAD_LETTER))
    assert before == [1, 3, 5] and n_files >= 1
    merged = store.compact_appends()
    if n_files >= 2:
        assert merged.get(DEAD_LETTER) == n_files
        assert len(store.storage.files(DEAD_LETTER)) == 1
    assert sorted(d["seq"] for d in store.storage.all_rows(DEAD_LETTER)) == before


def test_feed_readstream_exactly_once_dedup(spark, tmp_path):
    """Opt-in consumer-side exactly-once: double-publish a batch of
    feed events (the WAL's at-least-once crash-replay shape) and assert
    the deduped stream emits each (uri, item, revision) exactly once,
    while the default stream shows the duplicates."""
    from hyper_storage_spark.store.documents import FEED, FEED_SCHEMA

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    store.put("doc1", {"a": 1})
    store.put("doc1", {"a": 2})
    store.put("col~/item", {"b": 1})
    # crash-replay: the completer re-publishes the SAME events again
    # (same uuid/revision — the consumer contract is dedup by key)
    originals = store.feed_events()
    assert len(originals) == 3
    store.storage.append(FEED, originals, FEED_SCHEMA)

    def drain(stream, name):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.sql(
            f"SELECT document_uri, item_id, revision FROM {name}"
        ).collect()

    raw = drain(feed_readstream(spark, store), "feed_raw")
    assert len(raw) == 6  # at-least-once: duplicates visible
    deduped = drain(
        feed_readstream(spark, store, dedup_within="1 hour"), "feed_dedup"
    )
    keys = [(r.document_uri, r.item_id, r.revision) for r in deduped]
    assert len(keys) == 3 and len(set(keys)) == 3
    assert set(keys) == {("doc1", "", 1), ("doc1", "", 2), ("col~", "item", 1)}
    # deduped stream keeps the raw schema (no watermark column leaks)
    assert "event_time" not in feed_readstream(spark, store, dedup_within="1 hour").columns

    # DDL events all share (uri, item_id=index_id, revision=0) but are
    # DISTINCT events — the uuid dedup key must keep a delete-after-
    # create and a re-create inside the watermark (review r12: a
    # (uri, item, revision) key silently dropped them as duplicates)
    from hyper_storage_spark.plans import SortItem

    store.create_index("col~", "by_b", [SortItem("b", "decimal", "asc")], None)
    store.delete_index("col~", "by_b")
    store.create_index("col~", "by_b", [SortItem("b", "decimal", "asc")], None)
    q = (
        feed_readstream(spark, store, dedup_within="1 hour")
        .writeStream.format("memory")
        .queryName("feed_ddl")
        .option("checkpointLocation", str(tmp_path / "ckpt_ddl"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ddl = spark.sql(
        "SELECT method FROM feed_ddl WHERE revision = 0 AND item_id = 'by_b'"
    ).collect()
    assert sorted(r.method for r in ddl) == [
        "feed:indexdelete", "feed:indexpost", "feed:indexpost",
    ]


def test_stream_interval_join_matches_batch(spark, tmp_path, sf_dir):
    from pyspark.sql import functions as F

    from hyper_storage_spark.sources import load_table
    from hyper_storage_spark.streaming import stream_interval_join

    events = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )

    def snap(df):
        return sorted(
            (r.user_id, str(r.ts), r.event_id, str(r.ts_r), r.event_id_r)
            for r in df.collect()
        )

    # batch truth, twice: once through the helper, once hand-written
    got_batch = stream_interval_join(
        clicks, views, keys=["user_id"], lower="10 minutes", upper="0 seconds"
    )
    manual = (
        clicks.alias("c")
        .join(
            views.alias("v"),
            (F.col("c.user_id") == F.col("v.user_id"))
            & (F.col("v.ts") >= F.col("c.ts") - F.expr("INTERVAL 10 minutes"))
            & (F.col("v.ts") <= F.col("c.ts")),
        )
        .select(
            F.col("c.user_id").alias("user_id"),
            F.col("c.ts").alias("ts"),
            F.col("c.event_id").alias("event_id"),
            F.col("v.ts").alias("ts_r"),
            F.col("v.event_id").alias("event_id_r"),
        )
    )
    want = snap(manual)
    assert want and snap(got_batch) == want

    # replay both sides as REAL streams; inner interval join must
    # converge to the batch answer once both streams drain. Staged in
    # EVENT ORDER (range partition + stamped mtimes): with random
    # file order the watermark can jump ahead of an unread file and
    # late-drop right rows, losing genuine matches (observed flake)
    import glob
    import os
    import time

    def stage_ordered(df, path):
        df.repartitionByRange(3, F.col("ts")).sortWithinPartitions("ts").write.parquet(path)
        base = time.time() - 3600
        for i, p in enumerate(sorted(glob.glob(f"{path}/part-*.parquet"))):
            os.utime(p, (base + i, base + i))

    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    stage_ordered(clicks, lsrc)
    stage_ordered(views, rsrc)
    ls = spark.readStream.schema(clicks.schema).option("maxFilesPerTrigger", 1).parquet(lsrc)
    rs = spark.readStream.schema(views.schema).option("maxFilesPerTrigger", 1).parquet(rsrc)
    out = stream_interval_join(
        ls, rs, keys=["user_id"], lower="10 minutes", upper="0 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sij_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sij"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert snap(spark.table("sij_out")) == want


def test_stream_interval_join_requires_keys(spark, sf_dir):
    import pytest

    from hyper_storage_spark.sources import load_table
    from hyper_storage_spark.streaming import stream_interval_join

    e = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError):
        stream_interval_join(e, e, keys=[])


def test_stream_interval_left_outer_join_matches_batch_prefix(spark, tmp_path, sf_dir):
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from hyper_storage_spark.sources import load_table
    from hyper_storage_spark.streaming import stream_interval_join

    events = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )

    def rows(df):
        return {
            (r.user_id, str(r.ts), r.event_id, str(r.ts_r), r.event_id_r)
            for r in df.collect()
        }

    batch = rows(
        stream_interval_join(
            clicks, views, keys=["user_id"], lower="10 minutes", upper="0 seconds",
            how="left_outer",
        )
    )
    assert any(r[3] == "None" for r in batch)  # real unmatched rows exist

    # outer emission is watermark-driven, so the replay must be staged
    # in EVENT ORDER (range-partitioned, stamped mtimes) — a
    # hash-partitioned staging makes every file span the whole range,
    # the watermark jumps ahead after the first batch, and genuinely
    # matched right rows get late-dropped, surfacing as spurious
    # null-extended rows (observed; same rule as the session entry)
    def stage_ordered(df, path):
        df.repartitionByRange(8, F.col("ts")).sortWithinPartitions("ts").write.parquet(path)
        base = time.time() - 3600
        files = sorted(glob.glob(f"{path}/part-*.parquet"))
        for i, p in enumerate(files):
            os.utime(p, (base + i, base + i))
        return files

    lsrc, rsrc = str(tmp_path / "lo_l"), str(tmp_path / "lo_r")
    lfiles = stage_ordered(clicks, lsrc)
    rfiles = stage_ordered(views, rsrc)
    ls = spark.readStream.schema(clicks.schema).option("maxFilesPerTrigger", 1).parquet(lsrc)
    rs = spark.readStream.schema(views.schema).option("maxFilesPerTrigger", 1).parquet(rsrc)
    out = stream_interval_join(
        ls, rs, keys=["user_id"], lower="10 minutes", upper="0 seconds",
        watermark="1 hour", how="left_outer",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sij_lo")
        .option("checkpointLocation", str(tmp_path / "ckpt_lo"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = rows(spark.table("sij_lo"))

    # 1. nothing spurious: the stream may only LAG batch, never invent
    assert got <= batch
    # 2. inner matches emit as soon as both rows arrive — exact
    assert {r for r in got if r[3] != "None"} == {r for r in batch if r[3] != "None"}
    # 3. null-extended rows emit when the watermark EVICTS the click;
    # eviction lags a batch, so completeness is guaranteed only below
    # the watermark as of the second-to-last file of the slower side
    def fmax(p):
        return spark.read.parquet(p).agg(F.max("ts")).collect()[0][0]

    import datetime

    wm_safe = min(fmax(lfiles[-2]), fmax(rfiles[-2])) - datetime.timedelta(minutes=70)
    overdue = {r for r in batch if r[3] == "None" and r[1] < str(wm_safe)}
    assert overdue  # the bound keeps real unmatched rows in scope
    assert overdue <= got

    import pytest

    with pytest.raises(ValueError):
        stream_interval_join(clicks, views, keys=["user_id"], how="full_outer")


def test_stream_static_enrich_matches_batch(spark, tmp_path, sf_dir):
    # a multi-batch stream joined per-micro-batch against a static
    # dim must converge to the batch join; left_outer passes through
    # unmatched stream rows with NULL dim columns, no watermark wait
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from hyper_storage_spark.sources import load_table
    from hyper_storage_spark.streaming.joins import stream_static_enrich

    events = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "value"
    )
    # dim deliberately missing half the users so left_outer differs
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.pmod(F.col("c_custkey"), F.lit(2)) == 0)
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )

    src = str(tmp_path / "ev")
    events.repartitionByRange(3, F.col("ts")).sortWithinPartitions("ts").write.parquet(src)
    base = time.time() - 3600
    for i, p in enumerate(sorted(glob.glob(f"{src}/part-*.parquet"))):
        os.utime(p, (base + i, base + i))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def snap(df):
        return sorted(
            (r.event_id, r.user_id, r.c_mktsegment) for r in df.collect()
        )

    for how in ("inner", "left_outer"):
        out = stream_static_enrich(stream, dim, ["user_id"], how=how).select(
            "event_id", "user_id", "c_mktsegment"
        )
        q = (
            out.writeStream.format("memory")
            .queryName(f"sse_{how}")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{how}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        want = snap(events.join(dim, "user_id", how).select("event_id", "user_id", "c_mktsegment"))
        assert want and snap(spark.table(f"sse_{how}")) == want
    # left_outer kept every stream row; inner dropped the odd users
    assert len(snap(spark.table("sse_left_outer"))) > len(snap(spark.table("sse_inner")))

    import pytest as _pytest

    with _pytest.raises(ValueError):
        stream_static_enrich(stream, dim, ["user_id"], how="full_outer")


def test_streaming_psi_monitor_scores_batches_and_replays_idempotently(spark, tmp_path, sf_dir):
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    from hyper_storage_spark.sources import load_table
    from hyper_storage_spark.streaming.drift import (
        psi_from_counts,
        read_psi_log,
        streaming_psi_monitor,
    )

    events = load_table(spark, sf_dir, "events").select("ts", "value")
    reference = events.filter(F.col("value") < 60)  # deliberately skewed ref
    src = str(tmp_path / "vals")
    events.repartitionByRange(3, F.col("ts")).sortWithinPartitions("ts").write.parquet(src)
    base = time.time() - 3600
    for i, p in enumerate(sorted(_glob.glob(f"{src}/part-*.parquet"))):
        os.utime(p, (base + i, base + i))

    sink = streaming_psi_monitor(str(tmp_path / "psilog"), reference, "value", bins=10)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    log = {r.batch_id: r for r in read_psi_log(spark, str(tmp_path / "psilog")).collect()}
    assert len(log) == 3 and sum(r.n for r in log.values()) == events.count()
    # every batch drifts from the truncated reference: psi strictly > 0
    assert all(r.psi > 0 for r in log.values())
    # replaying a batch by hand (the at-least-once case) must leave the
    # log unchanged: same file, same content
    batch0_files = sorted(_glob.glob(f"{src}/part-*.parquet"))[:1]
    replay = spark.read.schema(events.schema).parquet(*batch0_files)
    before = log[0]
    sink(replay, 0)
    after = {r.batch_id: r for r in read_psi_log(spark, str(tmp_path / "psilog")).collect()}
    assert len(after) == 3 and after[0].n == before.n and after[0].psi == before.psi
    # the scored value equals the formula over the same counts
    assert abs(psi_from_counts([10] * 10, [10] * 10)) == 0.0


def test_streaming_ewma_carries_state_across_batches(spark, tmp_path):
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    from hyper_storage_spark.streaming.ewma import streaming_ewma

    # two keys, six ordered observations each, alpha = 0.5 — hand-fold
    rows = []
    for i in range(6):
        rows.append((1, i * 2, i, float(10 + i)))       # key 1
        rows.append((2, i * 2 + 1, i, float(100 - i)))  # key 2
    df = spark.createDataFrame(rows, "key long, event_id long, ts long, value double")
    src = str(tmp_path / "ewma_src")
    # three event-time-ordered files -> three micro-batches
    df.repartitionByRange(3, F.col("ts")).sortWithinPartitions("ts").write.parquet(src)
    base = time.time() - 3600
    for i, p in enumerate(sorted(_glob.glob(f"{src}/part-*.parquet"))):
        os.utime(p, (base + i, base + i))

    stream = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_ewma(stream, alpha=0.5)
        .writeStream.format("memory")
        .queryName("ewma_out")
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.key, r.event_id): r.ewma for r in spark.table("ewma_out").collect()
    }
    assert len(got) == 12

    def fold(vals, alpha=0.5):
        out, e = [], None
        for v in vals:
            e = v if e is None else alpha * v + (1 - alpha) * e
            out.append(e)
        return out

    want1 = fold([10.0, 11.0, 12.0, 13.0, 14.0, 15.0])
    want2 = fold([100.0, 99.0, 98.0, 97.0, 96.0, 95.0])
    for i in range(6):
        assert got[(1, i * 2)] == want1[i]       # exact: same IEEE fold
        assert got[(2, i * 2 + 1)] == want2[i]


def test_streaming_ivfpq_ingest_appends_and_serves(spark, tmp_path, sf_dir):
    """The persisted-ANN-index faces compose with Structured
    Streaming: bootstrap an IVF-PQ index on a corpus prefix, stream
    the remainder in micro-batches through foreachBatch →
    ivfpq_append (frozen cells/codebooks, codes table persisted to
    parquet per batch — the incremental-ingest deployment shape),
    then a search against the streamed-in index must return EXACTLY
    what a one-shot bulk index over the full corpus returns (same
    frozen training state, so encode order cannot matter — the
    append/search equality gate the batch incremental entries pin,
    now driven through readStream)."""
    from pyspark.sql import functions as F

    from hyper_storage_spark.operators import similarity
    from hyper_storage_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    boot = emb.filter(F.col("vec_id") % 3 == 0)
    rest = emb.filter(F.col("vec_id") % 3 != 0)

    idx = similarity.ivfpq_index(boot, n_cells=8, sample_rows=512)
    codes_dir = str(tmp_path / "codes")
    idx.codes.write.mode("overwrite").parquet(codes_dir)

    src = str(tmp_path / "src")
    rest.repartition(4).write.mode("overwrite").parquet(src)

    cents, cb = idx.centroids, idx.codebooks

    def sink(batch_df, batch_id):
        # frozen-state encode of just this micro-batch, appended to the
        # persisted codes table (idempotence across replays comes from
        # the checkpoint; this test replays nothing)
        enc = similarity.ivfpq_encode(
            similarity.IVFPQIndex(cents, cb, None), batch_df
        )
        enc.write.mode("append").parquet(codes_dir)

    stream = (
        spark.readStream.schema(rest.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = similarity.IVFPQIndex(cents, cb, spark.read.parquet(codes_dir))
    bulk = similarity.IVFPQIndex(cents, cb, similarity.ivfpq_encode(
        similarity.IVFPQIndex(cents, cb, None), emb
    ))
    qids = [0, 1, 2]
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.ivfpq_search(streamed, emb, qids, k=5, n_probe=8).collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.ivfpq_search(bulk, emb, qids, k=5, n_probe=8).collect()
    )
    assert got == want and len(got) == 15


def test_streaming_dsir_scoring_matches_bulk(spark, tmp_path, sf_dir):
    """The frozen DSIR model composes with Structured Streaming the
    same way the persisted ANN indexes do: train dsir_model once on
    the corpus, stream the corpus back in micro-batches through
    foreachBatch → dsir_score_with_model (scores appended to parquet
    per batch), and the streamed-in score table must equal the bulk
    dsir_scores run row for row — the frozen-model discipline means
    batch boundaries cannot move any score."""
    from pyspark.sql import functions as F

    from hyper_storage_spark.operators import text as T
    from hyper_storage_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    model_path = str(tmp_path / "dsir_model")
    T.dsir_model(docs, docs.filter(F.col("lang") == "en"), model_path, n_buckets=256)

    src = str(tmp_path / "src")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    scores_dir = str(tmp_path / "scores")

    def sink(batch_df, batch_id):
        T.dsir_score_with_model(batch_df, model_path).write.mode("append").parquet(
            scores_dir
        )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        r.doc_id: (r.n_tokens, r.score)
        for r in spark.read.parquet(scores_dir).collect()
    }
    bulk = {
        r.doc_id: (r.n_tokens, r.score)
        for r in T.dsir_scores(
            docs, docs.filter(F.col("lang") == "en"), n_buckets=256
        ).collect()
    }
    assert streamed == bulk


def test_streaming_uniform_sample_equals_batch_bottomk(spark, tmp_path):
    """The bottom-k-by-hash sample after a 3-micro-batch stream must
    equal the batch bottom-k over ALL rows (the merge identity), and
    a replayed batch id must be skipped, leaving state untouched."""
    from pyspark.sql import functions as F

    from hyper_storage_spark.operators import sampling

    src = tmp_path / "smpsrc"
    src.mkdir()
    all_rows = spark.range(300).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("event_type"),
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("event_id", pa.int64()), ("event_type", pa.string())])
    for i in range(3):
        rows = [
            {"event_id": n, "event_type": f"t{n % 3}"}
            for n in range(300)
            if n % 3 == i
        ]
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), str(src / f"f{i}.parquet"))
    stream = (
        spark.readStream.schema("event_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = str(tmp_path / "smpstate")
    sink = sampling.streaming_uniform_sample(
        state, id_col="event_id", payload_cols=("event_type",), k=20, run_id="t"
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "smpckpt"))
        .start()
    )
    q.awaitTermination()

    got = sampling.read_uniform_sample(spark, state)
    expect = (
        all_rows.withColumn(
            "__ord",
            F.md5(F.concat_ws(":", F.lit("smp"), F.col("event_id").cast("string"))),
        )
        .orderBy("__ord", "event_id")
        .limit(20)
    )
    g = sorted((r.event_id, r.event_type) for r in got.collect())
    e = sorted((r.event_id, r.event_type) for r in expect.collect())
    assert g == e and len(g) == 20

    # replayed batch id (same lineage): state version must not advance
    from hyper_storage_spark.operators.rollup_mv import _read_pointer

    v_before = _read_pointer(state)["version"]
    sink(all_rows.limit(5), 0)
    assert _read_pointer(state)["version"] == v_before

    # a NEW batch id merges; exact duplicate rows cannot double-enter
    sink(all_rows.limit(5), 99)
    after = sampling.read_uniform_sample(spark, state)
    assert sorted((r.event_id, r.event_type) for r in after.collect()) == e


def test_streaming_heavy_hitters_guarantees(spark, tmp_path):
    """streaming_heavy_hitters: the served set is a SUPERSET of the
    true phi-heavy items (incl. the pigeonhole edge case heavy only
    in aggregate), never-admitted light items cannot appear, CM never
    underestimates and overshoots within the grid bound, replays are
    skipped, and a below-admission phi read is refused."""
    import pytest
    from pyspark.sql import functions as F

    from hyper_storage_spark.operators import sketches as sk
    from hyper_storage_spark.operators.rollup_mv import _read_pointer

    # three 1000-row batches, phi = 0.05 (threshold 150 of N=3000):
    #   hot:     200/50/50  = 300  (admitted via batch 0's 20% share)
    #   creeper:  60/60/60  = 180  (admitted every batch at 6%)
    #   edge:     50/50/50  = 150  (exactly phi*N; every batch exactly
    #                               at the 5% admission boundary)
    #   light:    34/33/33  = 100  (3.3% share: never admitted)
    # filler: unique values pad each batch to 1000 rows
    plan = {"hot": (200, 50, 50), "creeper": (60, 60, 60),
            "edge": (50, 50, 50), "light": (34, 33, 33)}
    state = str(tmp_path / "hh")
    # phi=0.05 would hide the float-boundary class this test must pin:
    # 0.035*200 = 7.000000000000001 rejects an exactly-phi item
    # without the relative-slack compare. Scope check below.
    assert not (7 >= 0.035 * 200)  # the hazard is real on this host
    sink = sk.streaming_heavy_hitters(state, "v", phi=0.05, run_id="t")
    true_total = {k: sum(v) for k, v in plan.items()}
    for b in range(3):
        named = [(k,) for k, counts in plan.items() for _ in range(counts[b])]
        pad = 1000 - len(named)
        filler = [(f"f{b}_{i}",) for i in range(pad)]
        batch = spark.createDataFrame(named + filler, "v string")
        sink(batch, b)

    served = {r.value: r for r in sk.read_heavy_hitters(spark, state).collect()}
    assert {"hot", "creeper", "edge"} <= set(served)
    assert "light" not in served  # never admitted, cannot surface
    for k in ("hot", "creeper", "edge"):
        est = served[k].cms_estimate
        assert est >= true_total[k]          # CM never underestimates
        assert est <= true_total[k] + 50     # grid-bound overshoot
        assert served[k].n_total == 3000

    # replayed batch id: state untouched
    v_before = _read_pointer(state)["version"]
    sink(spark.createDataFrame([("hot",)] * 500, "v string"), 1)
    assert _read_pointer(state)["version"] == v_before
    assert sk.read_heavy_hitters(spark, state).filter(
        F.col("value") == "hot"
    ).collect()[0].n_total == 3000

    # a stricter read-time phi only shrinks the set; a looser one raises
    strict = {r.value for r in sk.read_heavy_hitters(spark, state, phi=0.09).collect()}
    assert strict == {"hot"}
    with pytest.raises(ValueError):
        sk.read_heavy_hitters(spark, state, phi=0.01)


def test_streaming_heavy_hitters_float_boundary_admission(spark, tmp_path):
    """phi=0.035 over a 200-row batch: the float product phi*n is one
    ulp ABOVE the exact boundary 7, so an exactly-phi item (7/200)
    must still be admitted — the relative-slack compare, pinned."""
    from hyper_storage_spark.operators import sketches as sk

    state = str(tmp_path / "hhb")
    sink = sk.streaming_heavy_hitters(state, "v", phi=0.035, run_id="t")
    rows = [("boundary",)] * 7 + [(f"u{i}",) for i in range(193)]
    sink(spark.createDataFrame(rows, "v string"), 0)
    served = {r.value for r in sk.read_heavy_hitters(spark, state).collect()}
    assert "boundary" in served


def test_streaming_corpus_stats_equals_batch_pipeline(spark, tmp_path):
    """streaming_corpus_stats: after a real 3-micro-batch stream with
    cross-batch duplicates, the persisted per-language stats equal
    the batch pipeline (dedup keep-first + grouped stats) over ALL
    rows — and a replayed batch changes nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hyper_storage_spark.operators import dedup as dd
    from hyper_storage_spark.operators.rollup_mv import _read_pointer

    src = tmp_path / "csrc"
    src.mkdir()
    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string())]
    )
    # 90 docs over 3 files; text repeats every 30 ids WITHIN a lang
    # stripe, so batch 2/3 re-deliver batch 1's content under new ids
    all_rows = [
        {
            "doc_id": i,
            "text": f"doc content {i % 30}",
            "lang": ["en", "de", "fr"][i % 3],
        }
        for i in range(90)
    ]
    for b in range(3):
        pq.write_table(
            pa.Table.from_pylist(all_rows[b * 30 : (b + 1) * 30], schema=schema),
            str(src / f"f{b}.parquet"),
        )
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = str(tmp_path / "cstate")
    sink = dd.streaming_corpus_stats(state, run_id="t")
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "cckpt"))
        .start()
    )
    q.awaitTermination()

    got = {
        r.lang: (r.n_docs, r.n_chars)
        for r in dd.read_corpus_stats(spark, state).collect()
    }
    batch = spark.createDataFrame(all_rows)
    w = Window.partitionBy("text").orderBy("doc_id")
    uniq = batch.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    want = {
        r.lang: (r.n_docs, r.n_chars)
        for r in uniq.groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum(F.length("text")).alias("n_chars"))
        .collect()
    }
    assert got == want and sum(n for n, _ in got.values()) == 30

    v = _read_pointer(state)["version"]
    sink(batch.limit(10), 0)  # replay: must be skipped wholesale
    assert _read_pointer(state)["version"] == v
    assert {
        r.lang: (r.n_docs, r.n_chars)
        for r in dd.read_corpus_stats(spark, state).collect()
    } == want


def test_streaming_expectations_accumulates_and_quarantines(spark, tmp_path):
    """streaming_expectations over a real 2-batch stream: cumulative
    per-rule counts equal the batch engine over all rows, scalar
    violations land in quarantine with their batch id, set-level
    rules count but never quarantine, replay is a no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hyper_storage_spark.operators import expectations as ex
    from hyper_storage_spark.operators.rollup_mv import _read_pointer

    src = tmp_path / "esrc"
    src.mkdir()
    schema = pa.schema([("id", pa.int64()), ("score", pa.float64()), ("tag", pa.string())])
    b1 = [
        {"id": 1, "score": 0.5, "tag": "ok"},
        {"id": 2, "score": 1.7, "tag": "ok"},      # out of range
        {"id": 3, "score": 0.2, "tag": None},      # null tag
    ]
    b2 = [
        {"id": 4, "score": 0.9, "tag": "ok"},
        {"id": 4, "score": 0.1, "tag": "ok"},      # duplicate id (set-level)
        {"id": 5, "score": -2.0, "tag": "ok"},     # out of range
    ]
    pq.write_table(pa.Table.from_pylist(b1, schema=schema), str(src / "f1.parquet"))
    pq.write_table(pa.Table.from_pylist(b2, schema=schema), str(src / "f2.parquet"))

    rules = [ex.not_null("tag"), ex.in_range("score", 0.0, 1.0), ex.unique("id")]
    state = str(tmp_path / "estate")
    sink = ex.streaming_expectations(state, rules, run_id="t")
    stream = (
        spark.readStream.schema("id long, score double, tag string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "eckpt"))
        .start()
    )
    q.awaitTermination()

    counts = {
        r.rule: (r.n_rows, r.n_violations, r.passed)
        for r in ex.read_expectation_counts(spark, state).collect()
    }
    assert counts["not_null(tag)"] == (6, 1, False)
    assert counts["in_range(score,0.0,1.0)"] == (6, 2, False)
    assert counts["unique(id)"] == (6, 1, False)

    quar = ex.read_quarantine(spark, state).collect()
    assert sorted((r.id, r["__batch_id"] is not None) for r in quar) == [
        (2, True), (3, True), (5, True)
    ]  # the duplicate id=4 rows are set-level: counted, not quarantined

    v = _read_pointer(state)["version"]
    sink(spark.createDataFrame(b1), 0)
    assert _read_pointer(state)["version"] == v
    assert {
        r.rule: r.n_rows for r in ex.read_expectation_counts(spark, state).collect()
    }["unique(id)"] == 6


def test_state_sink_readers_fail_loudly_without_state(spark, tmp_path):
    """Every foreachBatch state-sink reader must raise a clear
    FileNotFoundError on an uncommitted state dir — a silent empty
    frame would read as 'no data' instead of 'no pipeline ran'."""
    import pytest

    from hyper_storage_spark.operators import dedup as dd
    from hyper_storage_spark.operators import expectations as ex
    from hyper_storage_spark.operators import sampling, sketches

    empty = str(tmp_path / "nostate")
    for reader in (
        sampling.read_uniform_sample,
        sketches.read_heavy_hitters,
        dd.read_corpus_stats,
        ex.read_expectation_counts,
        ex.read_quarantine,
    ):
        with pytest.raises(FileNotFoundError):
            reader(spark, empty)


def test_corpus_stats_sharded_index_touched_buckets_only(spark, tmp_path):
    """Round-11 scale fix: the digest index is bucket-sharded and a
    batch rewrites ONLY the buckets its digests hash into. After two
    disjoint-keyspace batches, the first batch's untouched bucket
    files are byte-identical (same inode paths in the pointer map),
    the pointer tracks per-bucket versions, and the dedup/stats
    invariant holds across the bucket boundary. A legacy monolithic
    state dir (pointer with 'index') migrates on its first batch."""
    import os

    from pyspark.sql import functions as F

    from hyper_storage_spark.operators import dedup as dd
    from hyper_storage_spark.operators.rollup_mv import _flip_pointer, _read_pointer

    state = str(tmp_path / "shardstate")
    sink = dd.streaming_corpus_stats(state, run_id="t", n_index_buckets=64)

    b0 = spark.createDataFrame(
        [(i, f"alpha {i}", "en") for i in range(40)],
        "doc_id long, text string, lang string",
    )
    sink(b0, 0)
    p0 = _read_pointer(state)
    assert p0["n_index_buckets"] == 64 and p0["buckets"]
    m0 = dict(p0["buckets"])

    # batch 2: half duplicates of batch 1 (cross-batch dedup through
    # the sharded index), half fresh keys
    b1 = spark.createDataFrame(
        [(100 + i, f"alpha {i}", "en") for i in range(3)]  # duplicates
        + [(200 + i, f"beta {i}", "de") for i in range(3)],  # fresh
        "doc_id long, text string, lang string",
    )
    sink(b1, 1)
    p1 = _read_pointer(state)
    m1 = dict(p1["buckets"])
    touched = {k for k in m1 if m0.get(k) != m1[k]}
    untouched = {k for k in m0 if m0.get(k) == m1.get(k)}
    # batch 2's keyspace must not have touched every bucket, untouched
    # chains still serve their ORIGINAL files, and touched chains
    # APPEND (LSM delta) rather than rewrite — the old file leads the
    # chain
    assert touched and untouched, (m0, m1)
    for k in untouched:
        for rel in m0[k]:
            assert os.path.isdir(os.path.join(state, rel))
    for k in touched & set(m0):
        assert m1[k][: len(m0[k])] == m0[k]  # append-only chain growth

    got = {
        r.lang: (r.n_docs, r.n_chars)
        for r in dd.read_corpus_stats(spark, state).collect()
    }
    assert got["en"] == (40, sum(len(f"alpha {i}") for i in range(40)))
    assert got["de"] == (3, sum(len(f"beta {i}") for i in range(3)))
    # total unique digests across all bucket files == 50
    idx = spark.read.parquet(
        *[os.path.join(state, rel) for chain in m1.values() for rel in chain]
    )
    assert idx.count() == 43 and idx.distinct().count() == 43

    # ---- legacy migration: build a monolithic v1 state by hand ------
    legacy = str(tmp_path / "legacystate")
    os.makedirs(legacy)
    seen = b0.select(F.md5("text").alias("text_hash"))
    seen.write.parquet(os.path.join(legacy, "v000001_index"))
    b0.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum(F.length("text")).alias("n_chars")
    ).write.parquet(os.path.join(legacy, "v000001_stats"))
    _flip_pointer(
        legacy,
        {"version": 1, "batch_id": 0, "index": "v000001_index",
         "stats": "v000001_stats", "run_id": "t"},
    )
    sink2 = dd.streaming_corpus_stats(legacy, run_id="t", n_index_buckets=64)
    sink2(b1, 1)
    p = _read_pointer(legacy)
    assert "buckets" in p and "index" not in p
    got2 = {
        r.lang: (r.n_docs, r.n_chars)
        for r in dd.read_corpus_stats(spark, legacy).collect()
    }
    assert got2 == got  # migrated state converges to the sharded one


def test_corpus_stats_chain_compaction(spark, tmp_path):
    """A bucket's delta chain compacts once it exceeds _COMPACT_AT
    files — chains stay bounded across many batches and the dedup
    invariant survives compaction."""
    import os

    from hyper_storage_spark.operators import dedup as dd
    from hyper_storage_spark.operators.rollup_mv import _read_pointer

    state = str(tmp_path / "cmpstate")
    sink = dd.streaming_corpus_stats(state, run_id="t", n_index_buckets=4)
    n_batches = dd._COMPACT_AT + 4
    for b in range(n_batches):
        df = spark.createDataFrame(
            [(b * 100 + i, f"text {b}-{i}", "en") for i in range(8)]
            + ([(9999, "text 0-0", "en")] if b > 0 else []),  # cross-batch dup
            "doc_id long, text string, lang string",
        )
        sink(df, b)
    p = _read_pointer(state)
    chains = p["buckets"]
    assert all(len(c) <= dd._COMPACT_AT + 1 for c in chains.values()), {
        k: len(c) for k, c in chains.items()
    }
    # compaction fired: chains are far shorter than the batch count
    # and a compacted file leads at least one chain
    assert all(len(c) < n_batches for c in chains.values())
    assert any(c[0].startswith("v") and "_compact/" in c[0] for c in chains.values()), chains
    got = {r.lang: r.n_docs for r in dd.read_corpus_stats(spark, state).collect()}
    assert got["en"] == n_batches * 8  # dups never double-counted
    idx = spark.read.parquet(
        *[os.path.join(state, rel) for chain in chains.values() for rel in chain]
    )
    assert idx.count() == n_batches * 8 and idx.distinct().count() == n_batches * 8


def test_heavy_hitters_candidate_table_bounded(spark, tmp_path):
    """Round-11 bounding: the Misra-Gries candidate table stays ≤ ⌈2/φ⌉
    rows across many wide-keyspace batches (the admission table grew
    forever), while a genuinely heavy item survives every reduction and
    still serves. A pre-r11 state dir (value-only candidate file)
    migrates without losing its candidates."""
    import math
    import os

    from pyspark.sql import functions as F

    from hyper_storage_spark.operators import sketches as sk
    from hyper_storage_spark.operators.rollup_mv import _flip_pointer, _read_pointer

    state = str(tmp_path / "hhmg")
    phi = 0.05
    k_cap = math.ceil(2.0 / phi)
    sink = sk.streaming_heavy_hitters(state, "v", phi=phi, run_id="t")
    # 8 batches × 400 rows: 'whale' holds 25% of every batch; the other
    # 300 rows are batch-unique keys (2400 distinct light keys total)
    for b in range(8):
        rows = [("whale",)] * 100 + [(f"u{b}_{i}",) for i in range(300)]
        sink(spark.createDataFrame(rows, "v string"), b)
    cur = _read_pointer(state)
    cand = spark.read.parquet(os.path.join(state, cur["cand"]))
    assert cand.count() <= k_cap, cand.count()
    served = {r.value: r for r in sk.read_heavy_hitters(spark, state).collect()}
    assert "whale" in served
    assert served["whale"].cms_estimate >= 800  # CM never underestimates
    assert served["whale"].n_total == 3200

    # legacy migration: hand-build a value-only candidate state
    legacy = str(tmp_path / "hhlegacy")
    os.makedirs(legacy)
    spark.createDataFrame([("old_heavy",)], "value string").write.parquet(
        os.path.join(legacy, "v000001_cand")
    )
    grid = sk.cms_build(
        spark.createDataFrame([("old_heavy",)] * 50 + [("x", )] * 50, "v string"),
        "v", 5, 2719,
    )
    grid.write.parquet(os.path.join(legacy, "v000001_grid"))
    _flip_pointer(legacy, {"version": 1, "batch_id": 0, "grid": "v000001_grid",
                           "cand": "v000001_cand", "n_total": 100, "phi": phi,
                           "depth": 5, "width": 2719, "run_id": "t"})
    sink2 = sk.streaming_heavy_hitters(legacy, "v", phi=phi, run_id="t")
    sink2(spark.createDataFrame([("old_heavy",)] * 10 + [("y",)] * 10, "v string"), 1)
    served2 = {r.value for r in sk.read_heavy_hitters(spark, legacy).collect()}
    assert "old_heavy" in served2  # migration kept the legacy candidate


def test_quarantine_chain_compaction_and_state_vacuum(spark, tmp_path):
    """Round-11 state hygiene: (a) the quarantine chain compacts into
    one file past _Q_COMPACT_AT batches while read_quarantine keeps
    serving every committed row; (b) vacuum_state_dir reclaims
    superseded version files from any sink's state dir, never touching
    anything the pointer references or the retention window."""
    import os

    from hyper_storage_spark.operators import expectations as ex
    from hyper_storage_spark.operators.rollup_mv import _read_pointer, vacuum_state_dir

    state = str(tmp_path / "qchain")
    sink = ex.streaming_expectations(state, [ex.in_range("score", 0.0, 1.0)], run_id="t")
    n_batches = ex._Q_COMPACT_AT + 4
    for b in range(n_batches):
        df = spark.createDataFrame(
            [(b * 10 + i, 0.5) for i in range(3)] + [(b * 10 + 9, 5.0)],  # one violation
            "id long, score double",
        )
        sink(df, b)
    p = _read_pointer(state)
    assert len(p["quarantine"]) <= ex._Q_COMPACT_AT + 1
    assert any(r.startswith("qc_") for r in p["quarantine"])  # compaction happened
    quar = ex.read_quarantine(spark, state).collect()
    assert len(quar) == n_batches  # one violation per batch, all preserved
    assert {r["__batch_id"] for r in quar} == set(range(n_batches))

    # vacuum: superseded version files reclaimed, referenced ones kept
    before = set(os.listdir(state))
    removed = vacuum_state_dir(state, keep_versions=2, grace_seconds=0.0)
    assert removed > 0
    after = set(os.listdir(state))
    for rel in [p["counts"], *p["quarantine"]]:
        assert rel.split("/", 1)[0] in after
    # reads still serve identically after the vacuum
    counts = {r.rule: r.n_violations for r in ex.read_expectation_counts(spark, state).collect()}
    assert sum(counts.values()) == n_batches
    assert len(ex.read_quarantine(spark, state).collect()) == n_batches
    # second vacuum is a no-op (nothing left to reclaim)
    assert vacuum_state_dir(state, keep_versions=2, grace_seconds=0.0) == 0


def test_vacuum_wide_versions_and_orphaned_tmp(tmp_path):
    """r12 review: (a) version names past 999999 still match the
    reclamation regexes (%06d PADS — a fixed-width \\d{6} would skip
    every wide name forever and disk would grow unboundedly); (b) a
    flip tempfile orphaned by a kill between mkstemp and os.replace is
    reclaimed once it ages past the grace window, while the pointer
    and its .v history stay untouched."""
    import json
    import os
    import time

    from hyper_storage_spark.operators.rollup_mv import vacuum_state_dir

    state = str(tmp_path / "wide")
    os.makedirs(state)
    cur = {"version": 1000005, "stats": "v1000005_stats/part.parquet"}
    with open(os.path.join(state, "_CURRENT"), "w", encoding="utf-8") as fh:
        json.dump(cur, fh)
    with open(os.path.join(state, "_CURRENT.v001000005"), "w", encoding="utf-8") as fh:
        json.dump(cur, fh)
    for v in (1000000, 1000001, 1000005):
        d = os.path.join(state, f"v{v:06d}_stats")
        os.makedirs(d)
        open(os.path.join(d, "part.parquet"), "w").close()
    open(os.path.join(state, "_CURRENT.tmpdead"), "w").close()
    old = time.time() - 3600
    for name in os.listdir(state):
        os.utime(os.path.join(state, name), (old, old))

    removed = vacuum_state_dir(state, keep_versions=2, grace_seconds=300.0)
    left = set(os.listdir(state))
    assert "v1000000_stats" not in left  # below the 1000003 cutoff
    assert "v1000001_stats" not in left
    assert "v1000005_stats" in left  # referenced + in window
    assert "_CURRENT.tmpdead" not in left  # orphan reclaimed
    assert "_CURRENT" in left and "_CURRENT.v001000005" in left
    assert removed == 3


def test_heavy_hitters_legacy_migration_survives_reduction(spark, tmp_path):
    """r11 review: a pre-r11 admission table LARGER than the MG cap must
    migrate without evicting a true phi-heavy item — even when that
    item is absent from the migration batch. Legacy counts seed from
    the CM grid (per-value upper bounds), so heavy items rank above
    the light cohort and survive the reduction."""
    import math
    import os

    from hyper_storage_spark.operators import sketches as sk
    from hyper_storage_spark.operators.rollup_mv import _flip_pointer

    phi = 0.05
    k_cap = math.ceil(2.0 / phi)  # 40
    legacy = str(tmp_path / "hhbig")
    os.makedirs(legacy)
    # historical stream: 'whale' is 20% of 1000 rows; 60 light values
    # (> k_cap of them) were all admitted by the old per-batch rule
    hist_rows = [("whale",)] * 200 + [(f"l{i}",) for i in range(60) for _ in range(5)]
    hist_rows += [(f"pad{i}",) for i in range(1000 - len(hist_rows))]
    hist = spark.createDataFrame(hist_rows, "v string")
    sk.cms_build(hist, "v", 5, 2719).write.parquet(os.path.join(legacy, "v000001_grid"))
    spark.createDataFrame(
        [("whale",)] + [(f"l{i}",) for i in range(60)], "value string"
    ).write.parquet(os.path.join(legacy, "v000001_cand"))
    _flip_pointer(legacy, {"version": 1, "batch_id": 0, "grid": "v000001_grid",
                           "cand": "v000001_cand", "n_total": 1000, "phi": phi,
                           "depth": 5, "width": 2719, "run_id": "t"})

    # migration batch does NOT contain 'whale' at all
    sink = sk.streaming_heavy_hitters(legacy, "v", phi=phi, run_id="t")
    sink(spark.createDataFrame([(f"new{i}",) for i in range(100)], "v string"), 1)

    served = {r.value for r in sk.read_heavy_hitters(spark, legacy).collect()}
    assert "whale" in served  # 200/1100 = 18% >> phi: must still serve


def test_corpus_stats_bucket_count_pinned_by_state(spark, tmp_path):
    """r11 review: restarting the corpus-stats stream with a DIFFERENT
    n_index_buckets must keep using the state dir's persisted count —
    a modulus switch would miss the existing chains and re-admit
    duplicates."""
    import warnings

    from hyper_storage_spark.operators import dedup as dd
    from hyper_storage_spark.operators.rollup_mv import _read_pointer

    state = str(tmp_path / "bucketpin")
    dd.streaming_corpus_stats(state, run_id="t", n_index_buckets=16)(
        spark.createDataFrame([(i, f"t {i}", "en") for i in range(40)],
                              "doc_id long, text string, lang string"), 0)
    assert _read_pointer(state)["n_index_buckets"] == 16

    # restart with a different configured count + re-deliver the same
    # texts under new ids: dedup must still catch every duplicate
    sink2 = dd.streaming_corpus_stats(state, run_id="t", n_index_buckets=256)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        sink2(spark.createDataFrame(
            [(100 + i, f"t {i}", "en") for i in range(40)],
            "doc_id long, text string, lang string"), 1)
    assert any("n_index_buckets" in str(x.message) for x in w)
    assert _read_pointer(state)["n_index_buckets"] == 16  # state owns it
    got = {r.lang: r.n_docs for r in dd.read_corpus_stats(spark, state).collect()}
    assert got["en"] == 40  # zero re-admissions


def test_vacuum_protects_chain_dirs_of_pinned_pointers(spark, tmp_path):
    """r12 review: after a quarantine-chain compaction the newest
    pointer drops the per-batch q_* dirs, but a reader pinned to the
    just-superseded pointer (inside the keep window) still references
    them — vacuum must protect everything the last keep_versions
    pointers reference (pointer history), not just recent-numbered
    entries."""
    import glob
    import json
    import os

    from hyper_storage_spark.operators import expectations as ex
    from hyper_storage_spark.operators.rollup_mv import _read_pointer, vacuum_state_dir

    state = str(tmp_path / "pinned")
    sink = ex.streaming_expectations(state, [ex.in_range("score", 0.0, 1.0)], run_id="t")
    n = ex._Q_COMPACT_AT + 1  # compaction fires exactly on the last flip
    for b in range(n):
        df = spark.createDataFrame(
            [(b * 10 + i, 0.5) for i in range(3)] + [(b * 10 + 9, 5.0)],
            "id long, score double",
        )
        sink(df, b)
    p = _read_pointer(state)
    assert p["quarantine"] == [f"qc_{p['version']:06d}"]  # compacted this flip
    hist = sorted(glob.glob(os.path.join(state, "_CURRENT.v*")))
    assert len(hist) == n  # one history entry per flip
    with open(hist[-2], "r", encoding="utf-8") as fh:
        prev = json.load(fh)
    # the superseded pointer's chain is all per-batch dirs, including
    # ones far older than any version/batch cutoff window
    assert len(prev["quarantine"]) == ex._Q_COMPACT_AT
    assert all(r.startswith("q_") for r in prev["quarantine"])
    removed = vacuum_state_dir(state, keep_versions=2, grace_seconds=0.0)
    assert removed > 0  # superseded counts versions were reclaimed
    after = set(os.listdir(state))
    for rel in prev["quarantine"]:
        assert rel in after, f"pinned reader's chain dir {rel} was vacuumed"
    # the pinned pointer still serves every row it committed
    rows = spark.read.parquet(
        *[os.path.join(state, r) for r in prev["quarantine"]]
    ).count()
    assert rows == n - 1
    # history itself is pruned to the keep window
    assert len(glob.glob(os.path.join(state, "_CURRENT.v*"))) == 3


def test_read_quarantine_empty_chain_has_full_schema(spark, tmp_path):
    """r12 review: a committed-but-empty quarantine chain must read
    back with the sink's FULL quarantine schema (persisted in the
    pointer), not a marker-only frame — callers selecting data columns
    must behave identically in the empty and populated cases."""
    import os

    from hyper_storage_spark.operators import expectations as ex
    from hyper_storage_spark.operators.rollup_mv import _flip_pointer, _read_pointer

    state = str(tmp_path / "emptyq")
    sink = ex.streaming_expectations(state, [ex.in_range("score", 0.0, 1.0)], run_id="t")
    sink(spark.createDataFrame([(1, 0.5)], "id long, score double"), 0)
    p = _read_pointer(state)
    assert "quarantine_schema" in p
    populated_cols = ex.read_quarantine(spark, state).columns
    # simulate the empty-chain state (e.g. legacy adoption with no q_*)
    _flip_pointer(state, {**p, "version": p["version"] + 1, "quarantine": []})
    empty = ex.read_quarantine(spark, state)
    assert empty.columns == populated_cols == ["id", "score", "__batch_id"]
    assert empty.count() == 0
    # pointers from before the schema rode along keep the legacy shape
    legacy = {k: v for k, v in p.items() if k != "quarantine_schema"}
    _flip_pointer(state, {**legacy, "version": p["version"] + 2, "quarantine": []})
    assert ex.read_quarantine(spark, state).columns == ["__batch_id"]


def test_heavy_hitters_migration_seed_mass_capped(spark, tmp_path):
    """r12 review: CM estimates are over-estimates, so seeding legacy
    MG counters from them can put more mass in the table than n_total
    — which breaks the subtracted-mass bound behind 'a phi-heavy item
    is never evicted'. The seeds are scaled so their sum stays <=
    n_total, preserving rank order; the committed table mass must
    never exceed the stream's true row count."""
    import math
    import os

    from hyper_storage_spark.operators import sketches as sk
    from hyper_storage_spark.operators.rollup_mv import _flip_pointer, _read_pointer
    from pyspark.sql import functions as F

    phi = 0.05
    legacy = str(tmp_path / "hhmass")
    os.makedirs(legacy)
    # a TINY grid (width 2) makes every estimate collide toward the
    # full stream mass: 50 legacy candidates, each estimated near 200,
    # would seed ~10000 of mass against n_total=200 without the cap
    hist_rows = [(f"v{i}",) for i in range(50) for _ in range(4)]
    hist = spark.createDataFrame(hist_rows, "v string")
    sk.cms_build(hist, "v", 3, 2).write.parquet(os.path.join(legacy, "v000001_grid"))
    spark.createDataFrame(
        [(f"v{i}",) for i in range(50)], "value string"
    ).write.parquet(os.path.join(legacy, "v000001_cand"))
    _flip_pointer(legacy, {"version": 1, "batch_id": 0, "grid": "v000001_grid",
                           "cand": "v000001_cand", "n_total": 200, "phi": phi,
                           "depth": 3, "width": 2, "run_id": "t"})

    sink = sk.streaming_heavy_hitters(legacy, "v", phi=phi, run_id="t")
    sink(spark.createDataFrame([("fresh",)] * 30, "v string"), 1)

    cur = _read_pointer(legacy)
    cand = spark.read.parquet(os.path.join(legacy, cur["cand"]))
    mass = cand.agg(F.sum("mg")).collect()[0][0] or 0
    # MG invariant: table mass never exceeds the true stream length
    # (230 rows total; the reduction can only subtract further)
    assert mass <= cur["n_total"] == 230, mass
    # and the fresh batch's true counts are intact
    k_cap = math.ceil(2.0 / phi)
    assert cand.count() <= k_cap
    served = {r.value for r in sk.read_heavy_hitters(spark, legacy).collect()}
    assert "fresh" in served  # 30/230 = 13% >> phi


def test_stream_flip_pinned_against_foreign_write(tmp_path):
    """A foreign (second-handle) write landing between a batch's staging
    reads and its manifest flip must make the pinned flip refuse; the
    re-staged batch then lands beside it instead of overwriting it with
    the stale full-bucket staged file. Drives the executor-side group
    function and the driver publish in-process, without Spark (the
    retry loop through run_command_stream is covered by
    test_stream_flip_conflict_restages_through_run_command_stream).
    Also covers a null-seq put, which applies like any other command."""
    import pandas as pd

    from hyper_storage_spark.store.storage import ManifestConflict, bucket_of
    from hyper_storage_spark.streaming import ingest as ing

    store = DocumentStore(str(tmp_path / "s"))
    store.put("col~/seed", {"v": 0})
    writer = DocumentStore(store.storage.root)
    n = store.storage.n_buckets
    # one bucket group as the executor receives it (a null seq is NaN)
    group = pd.DataFrame(
        {
            "seq": [float("nan"), 2.0],
            "method": ["put", "put"],
            "path": ["col~/itemA", "col~/itemB"],
            "body": ['{"v": 1}', '{"v": 2}'],
            "document_uri": ["col~", "col~"],
            "bucket": [bucket_of("col~", n)] * 2,
        }
    )
    stage = ing._apply_bucket_commands(store.storage.root, n, store.auto_complete, 7)

    v0 = store.storage.current_version()
    results = list(stage(group).itertuples(index=False))
    writer.put("col~/foreign", {"v": 99})  # same content bucket, inside the window
    with pytest.raises(ManifestConflict):
        ing._publish(store, results, v0, None)
    v0 = store.storage.current_version()
    ing._publish(store, list(stage(group).itertuples(index=False)), v0, None)
    assert store.get("col~/foreign")[0]["v"] == 99  # foreign write survived
    assert store.get("col~/itemA")[0]["v"] == 1  # and the batch landed
    assert store.get("col~/itemB")[0]["v"] == 2
    # gapless: seed, foreign, then the batch's two puts
    assert store.get("col~/seed") == ({"v": 0, "id": "seed"}, 4)


def test_stream_flip_conflict_restages_through_run_command_stream(spark, tmp_path):
    """The foreign-write pin end to end: a second handle writes the same
    content bucket just before the stream's first flip, which must
    conflict; run_command_stream re-stages and lands the batch — for a
    bucket-grouped batch and for a collection-delete batch (one
    group)."""
    from hyper_storage_spark.store.storage import ManifestConflict

    for collection_delete in (False, True):
        root = tmp_path / f"delete={collection_delete}"
        store = DocumentStore(str(root / "s"), spark=spark)
        store.put("col~/seed", {"v": 0})
        store.put("gone~/x", {"g": 1})
        writer = DocumentStore(store.storage.root, spark=spark)
        commands = [
            {"seq": None, "method": "put", "path": "col~/itemA", "body": {"v": 1}},
            {"seq": 2, "method": "put", "path": "col~/itemB", "body": {"v": 2}},
        ]
        if collection_delete:
            commands.append({"seq": 3, "method": "delete", "path": "gone~", "body": None})
        write_commands(str(root / "commands"), commands)

        real_flip = store.storage.commit_external_many
        outcomes = []

        def flip(*a, **k):
            if not outcomes:
                writer.put("col~/foreign", {"v": 99})  # same content bucket
            try:
                v = real_flip(*a, **k)
            except ManifestConflict:
                outcomes.append("conflict")
                raise
            outcomes.append("flip")
            return v

        store.storage.commit_external_many = flip
        try:
            run_command_stream(spark, store, str(root / "commands"), str(root / "ckpt"))
        finally:
            store.storage.commit_external_many = real_flip
        # the stale flip was refused once, then the batch re-staged and landed
        assert outcomes == ["conflict", "flip"], collection_delete
        assert store.get("col~/foreign")[0]["v"] == 99  # foreign write survived
        assert store.get("col~/itemA")[0]["v"] == 1  # and the batch landed
        assert store.get("col~/itemB")[0]["v"] == 2
        # gapless: seed, foreign, then the batch's two puts
        assert store.get("col~/seed") == ({"v": 0, "id": "seed"}, 4)
        if collection_delete:
            with pytest.raises(KeyError):
                store.get("gone~/x")
        else:
            assert store.get("gone~/x")[0]["g"] == 1


@pytest.mark.parametrize("collection_delete", [False, True])
def test_null_seq_command_dead_letters_not_poison(spark, tmp_path, collection_delete):
    """A command with a null seq reaches the apply stage as a NaN seq.
    It must order FIRST within its document and, when malformed, land in
    dead_letter with seq=None — int(NaN) raising there would fail the
    batch, which Structured Streaming retries forever. Both groupings
    (by bucket, and one group for a collection-delete batch) are
    covered."""
    from hyper_storage_spark.streaming.ingest import DEAD_LETTER

    store = DocumentStore(str(tmp_path / "store"), spark=spark)
    store.put("gone~/x", {"a": 1})
    commands = [
        {"seq": None, "method": "bogus", "path": "nul", "body": {"n": 1}},
        {"seq": 1, "method": "patch", "path": "ord", "body": {"w": 1}},
        {"seq": None, "method": "put", "path": "ord", "body": {"v": 0}},
        {"seq": 2, "method": "put", "path": "ok", "body": {"k": 1}},
    ]
    if collection_delete:
        commands.append({"seq": 3, "method": "delete", "path": "gone~", "body": None})
    cmds = str(tmp_path / "commands")
    write_commands(cmds, commands)
    run_command_stream(spark, store, cmds, str(tmp_path / "ckpt"))

    dead = store.storage.all_rows(DEAD_LETTER)
    assert [(d["seq"], d["method"], d["path"]) for d in dead] == [(None, "bogus", "nul")]
    assert store.get("ok")[0] == {"k": 1}
    assert store.get("ord") == ({"v": 0, "w": 1}, 2)  # null-seq put first
    if collection_delete:
        with pytest.raises(KeyError):
            store.get("gone~/x")
    else:
        assert store.get("gone~/x")[0]["a"] == 1
