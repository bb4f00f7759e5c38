"""The write path as a streaming job.

SURVEY.md §3.2's Spark shape for the reference's primary/secondary
worker machinery: commands arrive on a topic (here: an append-only
parquet directory; on a cluster: Kafka), and every micro-batch takes
ONE path: ``groupBy(key).applyInPandas`` applies each group's commands
serially per document through the DocumentStore on an executor, then
the driver publishes the staged result in one pinned manifest flip.
That yields the same single-writer/gapless-revision/feed-publication
semantics as the reference's ShardProcessor + PrimaryWorker +
BackgroundContentTaskCompleter pipeline. The flip carries each write's
index rows and feed event with its data, and the batch watermark rides
in it, so neither a crashed batch nor a crashed write leaves anything
for the reference's hot/stale recovery to finish.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import SparkSession

from ..store.documents import DocumentStore, NotFoundError

COMMANDS_SPARK = "seq long, method string, path string, body string"
COMMANDS_ARROW = pa.schema(
    [("seq", pa.int64()), ("method", pa.string()), ("path", pa.string()), ("body", pa.string())]
)

# malformed commands (bad path, bad method, non-object collection item
# body, ...) are dead-lettered instead of poison-pilling the stream:
# Structured Streaming retries a failing batch forever, so one bad
# producer row must not halt ingestion — the reference's workers NACK
# bad requests back to the client for the same reason.
DEAD_LETTER = "dead_letter"
DEAD_LETTER_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("method", pa.string()),
        ("path", pa.string()),
        ("body", pa.string()),
        ("error", pa.string()),
        ("ts", pa.int64()),
    ]
)


def write_commands(commands_dir: str, commands: list[dict]) -> str:
    """Producer side: append a batch of write commands
    (method put|patch|delete, path, body JSON) to the command log."""
    os.makedirs(commands_dir, exist_ok=True)
    path = os.path.join(commands_dir, f"cmd-{int(time.time()*1000)}-{uuid.uuid4().hex[:8]}.parquet")
    rows = [
        {
            "seq": c["seq"],
            "method": c["method"],
            "path": c["path"],
            "body": json.dumps(c["body"]) if c.get("body") is not None else None,
        }
        for c in commands
    ]
    # tmp + rename: the command stream's file source lists this dir —
    # a mid-write listing must never see a footerless parquet
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pylist(rows, schema=COMMANDS_ARROW), tmp)
    os.replace(tmp, path)
    return path


def _dispatch(ds: DocumentStore, method: str, path: str, raw_body: Optional[str]) -> Optional[str]:
    """Decode + apply ONE command; returns None on success/benign-skip,
    else the dead-letter reason.

    - NotFoundError (replay of an already-applied delete within a
      batch) is the benign skip, as in the reference's idempotent
      delete handling.
    - ValueError / KeyError / TypeError / AttributeError (invalid JSON
      body, malformed or None path, bad method, non-object collection
      item body, planner KeyErrors from hostile input) are producer
      bugs: dead-letter the command, keep the stream alive. The JSON
      decode lives INSIDE the try for the same reason — an undecodable
      body must never escape as a raw JSONDecodeError and poison-pill
      the batch (Structured Streaming retries it forever).
    """
    try:
        body = json.loads(raw_body) if raw_body is not None else None
        if method == "put":
            ds.put(path, body)
        elif method == "patch":
            ds.patch(path, body)
        elif method == "delete":
            ds.delete(path)
        else:
            return f"unknown method {method!r}"
        return None
    except NotFoundError:
        return None
    except (ValueError, KeyError, TypeError, AttributeError) as e:  # noqa: PERF203
        return f"{type(e).__name__}: {e}"


# applyInPandas result rows: staged bucket files, feed events to
# append, and table drops — everything the driver needs for one commit
_RESULT_SCHEMA = "kind string, table string, bucket int, path string, payload string"


def _apply_bucket_commands(root: str, n_buckets: int):
    """Returns the executor-side applyInPandas function for one group:
    apply the group's commands (per-document, seq order) through the
    REAL DocumentStore write path against a copy-on-write overlay,
    stage the resulting bucket datasets as parquet files, and emit their
    paths (plus feed events, dead letters and table drops) for the
    driver's atomic commit.

    The single-writer guarantee holds because commands are
    hash-partitioned by bucket = bucket_of(document_uri) (the
    reference's ShardProcessor consistent-hash ownership,
    TransactionLogic.scala:26-30): every document's commands land in
    exactly one task, applied serially in seq order — gapless revisions
    with no driver-side row loop. Index-table maintenance is also
    conflict-free: an index table is touched only by its collection's
    own bucket group. The global INDEX_DEFS bucket is the exception —
    see :func:`apply_commands_distributed` for how two groups are kept
    from both staging it."""

    def apply_group(pdf):
        import pandas as pd

        from ..store.documents import DocumentStore as _DS
        from ..store.storage import OverlayStorage, Storage, write_bucket_file

        out = []
        if len(pdf):
            base = Storage(root, n_buckets)
            overlay = OverlayStorage(base)
            ds = _DS(root, storage=overlay)
            # a null seq (NaN in pandas) orders FIRST in its document,
            # deterministically; pandas would put it last by default
            pdf = pdf.sort_values(["document_uri", "seq"], na_position="first")
            for r in pdf.itertuples():
                err = _dispatch(ds, r.method, r.path, r.body)
                if err is not None:
                    row = {
                        # int(NaN) raises: a null seq must not turn the
                        # dead-letter write itself into a poison pill
                        "seq": None if pd.isna(r.seq) else int(r.seq),
                        "method": r.method,
                        "path": r.path,
                        "body": r.body,
                        "error": err,
                        "ts": int(time.time() * 1000),
                    }
                    overlay.append(DEAD_LETTER, [row], DEAD_LETTER_SCHEMA)
            for (table, bucket), rows in overlay.overlay.items():
                path = base.staged_bucket_file(table, bucket)
                # the shared writer keeps staged buckets key-sorted with
                # bounded row groups — point-read pruning must hold for
                # buckets last written by the streaming path too
                write_bucket_file(rows, overlay.schemas[table], path)
                out.append(("file", table, int(bucket), path, None))
            for table, rows in overlay.appended.items():
                for row in rows:
                    out.append(("append", table, 0, None, json.dumps(row)))
            # EVER-dropped, not still-dropped: the flip drops before it
            # registers, so a drop-and-recreate keeps the staged
            # recreation while stale base buckets of the old table go
            for table in sorted(overlay.ever_dropped):
                out.append(("drop", table, 0, None, None))
        return pd.DataFrame(out, columns=["kind", "table", "bucket", "path", "payload"])

    return apply_group


def apply_commands_distributed(store: DocumentStore, batch_df, commit_meta: Optional[dict] = None) -> None:
    """Apply one micro-batch executor-side: group the commands, run
    each group through the overlayed DocumentStore on its executor,
    then flip the manifest ONCE on the driver: the staged files, the
    feed events, the dead letters and ``commit_meta`` (e.g. the batch
    watermark) all ride in that flip, atomic with each other. This is
    the only apply path.

    The grouping key is the storage bucket, except for a batch that
    contains a collection-document delete: dropping a collection's
    index tables rewrites the global INDEX_DEFS bucket, which two
    groups could otherwise both stage, so such a batch is applied as
    ONE group (rare, metadata-only — correctness over parallelism
    there). Template instantiation has the same global-bucket hazard:
    for a bucket-grouped batch it runs driver-side on the real store
    BEFORE the fan-out; a single-group batch instantiates inside its
    overlay, so the DDL lands in the batch's own flip."""
    from pyspark.sql import functions as F

    from ..paths import is_collection_uri, split_path as _sp
    from ..store.storage import bucket_of

    n_buckets = store.storage.n_buckets

    @F.pandas_udf("document_uri string, bucket int")
    def route(paths):
        import pandas as pd

        def uri_of(p):
            try:
                return _sp(p).document_uri
            except Exception:  # malformed/None: any stable bucket works —
                # the apply stage dead-letters it without touching state
                return str(p)

        uris = [uri_of(p) for p in paths]
        return pd.DataFrame(
            {
                "document_uri": uris,
                "bucket": [bucket_of(u, n_buckets) for u in uris],
            }
        )

    # collection-document delete = delete of a path that IS a
    # collection uri (ends with '~', no item segment) — a pure Column
    # predicate on the raw batch, so the check costs no route-UDF pass
    # over the data
    one_group = (
        batch_df.filter((F.col("method") == "delete") & F.col("path").endswith("~"))
        .limit(1)
        .count()
        > 0
    )

    if not one_group and store.index_templates():
        # instantiate template indexes on the driver's store (under its
        # lock) for every collection this batch writes: executor groups
        # each skip the already-existing index instead of two of them
        # staging conflicting copies of the global INDEX_DEFS bucket
        for (p,) in batch_df.select("path").distinct().collect():
            try:
                uri = _sp(p).document_uri
            except Exception:
                # malformed/None path (AttributeError on None, ValueError
                # on bad shape, ...): dead-lettered by the apply stage —
                # anything escaping here poison-pills foreachBatch, which
                # Structured Streaming retries forever, so match the
                # route UDF's broad catch
                continue
            if is_collection_uri(uri):
                store.instantiate_templates(uri)

    ann = batch_df.withColumn("r", route("path")).select("*", "r.document_uri", "r.bucket").drop("r")
    # a constant key puts the whole batch in one group (a string: an
    # integer literal in groupBy would resolve as a column ordinal)
    groups = ann.groupBy(F.lit("batch") if one_group else F.col("bucket"))
    func = _apply_bucket_commands(store.storage.root, n_buckets)
    from ..store.storage import ManifestConflict

    # The flip is PINNED on the manifest version read BEFORE the
    # executors stage (review r12): executor tasks read bucket contents
    # through their own manifest read, so a foreign (cross-process)
    # commit landing anywhere in the stage window would otherwise be
    # silently overwritten by the full-bucket staged files — the exact
    # lost update Storage.commit's expected_version exists for. On
    # conflict the whole batch re-stages against fresh state (bounded
    # retries); the feed events ride in the refused flip, so none of
    # the failed attempt's events is published.
    last: Optional[BaseException] = None
    for _attempt in range(store.WRITE_CAS_RETRIES):
        v0 = store.storage.current_version()
        results = groups.applyInPandas(func, _RESULT_SCHEMA).collect()
        try:
            _publish(store, results, v0, commit_meta)
        except ManifestConflict as e:
            last = e
            continue
        if one_group:
            # the overlay store's memo discard doesn't reach the REAL
            # store object: forget its template memo so a re-created
            # collection gets template indexes back on its next write
            with store._lock:
                store._templated_uris.clear()
        return
    raise last  # type: ignore[misc]


def _publish(store: DocumentStore, results, v0: int, commit_meta: Optional[dict]) -> None:
    """Driver side of one apply attempt: register the staged files,
    table drops, ``commit_meta``, feed events and dead letters in ONE
    manifest flip pinned on ``v0``, the version read before the groups
    staged. Raises ManifestConflict when any foreign flip landed since
    ``v0``; the refused flip registers nothing, so the re-staged retry
    publishes each event once, under the revision it finally got.

    store._lock excludes in-process writers during the publish; the
    version chain excludes cross-process ones. A crash before the flip
    re-applies the whole batch (the watermark rides INSIDE the flip, so
    it has not advanced) — store state and the manifest-backed feed stay
    exactly-once; only a file-source reader of the feed directory may
    see a refused attempt's staged feed file (at-least-once)."""
    from ..store.documents import FEED, FEED_SCHEMA

    feed_rows = sorted(
        (json.loads(r.payload) for r in results if r.kind == "append" and r.table == FEED),
        key=lambda d: (d["document_uri"], d["revision"]),
    )
    dead_rows = [
        json.loads(r.payload) for r in results if r.kind == "append" and r.table == DEAD_LETTER
    ]
    appends = {}
    if feed_rows:
        appends[FEED] = (feed_rows, FEED_SCHEMA)
    if dead_rows:
        appends[DEAD_LETTER] = (dead_rows, DEAD_LETTER_SCHEMA)
    files: dict[str, dict[int, list[str]]] = {}
    drops: list[str] = []
    for r in results:
        if r.kind == "file":
            files.setdefault(r.table, {})[r.bucket] = [r.path]
        elif r.kind == "drop":
            drops.append(r.table)
    if files or drops or commit_meta or appends:
        with store._lock:
            store.storage.commit(
                {}, {}, drop_tables=drops, expected_version=v0, appends=appends,
                files=files, meta=commit_meta,
            )


def _watermark_key(checkpoint_dir: str) -> str:
    import hashlib

    return f"stream_watermark_{hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:12]}"


def reset_stream_watermark(store: DocumentStore, checkpoint_dir: str) -> None:
    """Forget the batch watermark for ``checkpoint_dir`` — call this
    when DELETING a checkpoint to reprocess a command log from scratch
    (batch ids restart at 0, so a stale watermark would silently skip
    every replayed batch)."""
    with store._lock:
        store.storage.set_meta(_watermark_key(checkpoint_dir), -1)


def run_command_stream(
    spark: SparkSession,
    store: DocumentStore,
    commands_dir: Optional[str],
    checkpoint_dir: str,
    available_now: bool = True,
    source: Optional["object"] = None,
    vacuum_every: int = 64,
    vacuum_grace: float = 3600.0,
    compact_every: int = 0,
):
    """Consume the command log and apply it to the store.

    Each micro-batch is hash-partitioned by document bucket and applied
    ON EXECUTORS (per-key serialization ⇒ gapless revisions, exactly
    the reference's ShardProcessor ownership model); a batch with a
    collection-document delete runs as one group on the same path
    (:func:`apply_commands_distributed`). The driver's only work per
    batch is one atomic manifest flip, which also publishes the batch's
    feed events, so a batch is complete once its flip lands. The
    checkpoint makes restarts resume after the last fully-applied
    batch; no recovery pass is needed.

    foreachBatch is at-least-once: a crash between apply and the
    checkpoint commit re-delivers the batch, and re-applying writes
    would mint NEW revisions (not revision-idempotent). The remedy is a
    batch-id watermark that rides IN the manifest flip itself — marker
    and data commit atomically, so store state is exactly-once: a crash
    anywhere before the flip leaves the base snapshot untouched and the
    replay stages the batch afresh; a crash after it finds the
    watermark advanced and skips the batch. The watermark is keyed by
    checkpoint path: if you DELETE a checkpoint to reprocess from
    scratch, call :func:`reset_stream_watermark` first, or every
    replayed batch is silently skipped.

    Orphan GC: every ``vacuum_every`` batches (0 = off) the store's
    :meth:`vacuum` reclaims data files no longer referenced by the
    manifest — superseded bucket versions AND staged files orphaned by
    crashed/retried batches (a failed flip leaves its staging on disk
    by design). It runs between batches under the store lock, with
    ``vacuum_grace`` protecting files another writer may be mid-staging
    (executor-staged files exist before their flip).

    ``compact_every`` (0 = off, the default) additionally compacts the
    append-only feed/dead-letter logs every N batches — they otherwise
    grow one parquet file per batch. Off by default because a tailing
    feed readStream sees the compacted file as new and re-delivers its
    events (at-least-once, deduped by revision, but noisy): enable it
    when feed consumers read the manifest-backed feed_df, or schedule
    compaction in their quiet windows."""
    wm_key = _watermark_key(checkpoint_dir)

    def last_applied() -> int:
        return store.storage.get_meta(wm_key, -1)

    def apply_batch(batch_df, batch_id: int):
        if batch_id <= last_applied():
            return
        meta = {wm_key: batch_id}
        apply_commands_distributed(store, batch_df, commit_meta=meta)
        if compact_every and (batch_id + 1) % compact_every == 0:
            store.compact_appends()
        if vacuum_every and (batch_id + 1) % vacuum_every == 0:
            store.vacuum(grace_seconds=vacuum_grace)

    if source is None:
        # default file source over the command-log directory; pass
        # ``source`` to swap in another streaming DataFrame with the
        # same columns (e.g. kafka_command_stream(...) on a cluster) —
        # the watermark/dead-letter/apply machinery is source-agnostic
        if commands_dir is None:
            raise ValueError("run_command_stream needs commands_dir or source")
        source = (
            spark.readStream.schema(COMMANDS_SPARK)
            .option("maxFilesPerTrigger", 4)
            .parquet(commands_dir)
        )
    stream = (
        source.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = stream.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return stream.start()
