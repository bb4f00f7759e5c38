"""DocumentStore: the reference's document/collection CRUD engine.

Semantics mirrored from the reference (citations inline):

- monotonic, gapless per-document revisions shared by all items of a
  collection (static column; PrimaryWorker.scala:217-227) — achieved
  here by strict per-store single-writer serialization (a lock in
  library mode, mirroring ShardProcessor's one-worker-per-key,
  ShardProcessor.scala:378-414);
- merge-patch with null-deletion; null-stripping on PUT/POST
  (PrimaryWorker.scala:45-60,297-308);
- POST → PUT with generated sortable id injected into the body
  (PrimaryWorker.scala:76-91);
- delete semantics (L15): document delete = tombstone; item delete =
  row removal + revision bump; collection delete also drops its indexes
  (PrimaryWorker.scala:310-328, BackgroundContentTaskCompleter.scala:128-139).
  A collection tombstone MASKS item rows rather than purging them, and
  any later item write stores a static row with is_deleted=false —
  resurrecting the collection with its masked items; item patch/delete
  check the ITEM row, not the tombstone, so they succeed (and
  resurrect) on a masked collection. Faithful to the reference's
  static-column mechanics (deleteContent keeps Some(static) live,
  PrimaryWorker.scala:315-328; verified by the model-based random CRUD
  differential in tests/test_store.py);
- the change feed is the transaction log: every write publishes one
  ``feed:*`` event with the revision header, idempotent by revision
  (BackgroundContentTaskCompleter.scala:75-113), and the write's
  transaction id names that event (:func:`transaction_id`). The
  reference keeps a write-ahead transactions table, completes it in
  the background and re-drives what a crash left behind with recovery
  workers, because Cassandra and Kafka cannot commit together; here a
  write's index rows and feed event ride in the same manifest flip as
  its content, so no write leaves anything to recover and the event is
  the transaction's only record;
- index lifecycle INDEXING→NORMAL / DELETING with backfill and
  incremental maintenance on every write (IndexContentTaskWorker.scala,
  IndexDefTaskWorker.scala). The reference must track obsolete sort
  values because Cassandra clustering keys are immutable
  (PrimaryWorker.scala:183-215); here a write appends one delta row per
  touched item to each index — an upsert, or a tombstone when the item
  left the index — and readers let it replace the item's older row
  (storage.merge_delta), which subsumes L17's delete-then-insert;
- bulk collection writes (ingest_collection, merge_collection,
  expire_items), the backfill-job face: each builds its collection's
  new content bucket as a Spark frame, and one publisher
  (``_publish_bulk``) stages it and flips it in with the statics row in
  one commit, pinned on the file lists of the buckets its reads saw
  (``_flip_staged``, the flip of every Spark-staged build).
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from collections import deque
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Context, Decimal
from typing import Any, Optional

import pyarrow as pa

from ..expression.evaluator import (
    EvalError,
    canonical_str,
    evaluate,
    to_decimal,
    truthy,
)
from ..expression.parser import parse
from ..paths import is_collection_uri, split_path
from ..plans.index_logic import extract_sort_field_values, table_field_name, table_name
from ..plans.model import (
    DECIMAL,
    STATUS_DELETING,
    STATUS_INDEXING,
    STATUS_NORMAL,
    SortItem,
)
from .idgen import create_id
from .merge import filter_nulls, merge_patch
from .storage import Storage, bucket_of, delta_of, is_delta_file, merge_delta
from .storage import write_bucket_file  # noqa: F401  (perfbench's tracer wraps it here)


class NotFoundError(KeyError):
    pass


CONTENT = "content"
STATICS = "statics"
INDEX_DEFS = "index_defs"
FEED = "feed"

DEC_ARROW = pa.decimal128(38, 12)
_DEC_INT_DIGITS = DEC_ARROW.precision - DEC_ARROW.scale
_DEC_QUANTUM = Decimal(1).scaleb(-DEC_ARROW.scale)
_DEC_CONTEXT = Context(prec=DEC_ARROW.precision + 1)  # room for a carry out of rounding

CONTENT_SCHEMA = pa.schema(
    [
        ("document_uri", pa.string()),
        ("item_id", pa.string()),
        ("revision", pa.int64()),
        ("body", pa.string()),
        ("is_deleted", pa.bool_()),
        ("created_at", pa.int64()),
        ("modified_at", pa.int64()),
    ]
)
CONTENT_SPARK = (
    "document_uri string, item_id string, revision long, body string, "
    "is_deleted boolean, created_at long, modified_at long"
)

STATICS_SCHEMA = pa.schema(
    [
        ("document_uri", pa.string()),
        ("revision", pa.int64()),
        ("is_deleted", pa.bool_()),
        ("created_at", pa.int64()),
        ("modified_at", pa.int64()),
    ]
)

INDEX_DEFS_SCHEMA = pa.schema(
    [
        ("document_uri", pa.string()),
        ("index_id", pa.string()),
        ("status", pa.int32()),
        ("sort_by", pa.string()),  # JSON list of {field_name, field_type, order}
        ("filter_by", pa.string()),
        ("table_name", pa.string()),
    ]
)

FEED_SCHEMA = pa.schema(
    [
        ("uuid", pa.string()),
        ("document_uri", pa.string()),
        ("item_id", pa.string()),
        ("revision", pa.int64()),
        ("method", pa.string()),
        ("body", pa.string()),
        ("ts", pa.int64()),
    ]
)
FEED_SPARK = (
    "uuid string, document_uri string, item_id string, revision long, "
    "method string, body string, ts long"
)

TEMPLATE_INDEXES = "template_indexes"
TEMPLATE_INDEXES_SCHEMA = pa.schema(
    [
        ("uri_pattern", pa.string()),  # '/'-segmented, '*' matches one segment
        ("index_id", pa.string()),
        ("sort_by", pa.string()),  # JSON, same encoding as INDEX_DEFS
        ("filter_by", pa.string()),
    ]
)

PENDING_INDEXES = "pending_indexes"
PENDING_INDEXES_SCHEMA = pa.schema(
    [
        ("document_uri", pa.string()),
        ("index_id", pa.string()),
        ("last_item_id", pa.string()),  # keyset-resume watermark
        ("retry_count", pa.int64()),
        ("next_retry_at", pa.int64()),
    ]
)


@dataclass(frozen=True)
class IndexDef:
    document_uri: str
    index_id: str
    status: int
    sort_by: tuple[SortItem, ...]
    filter_by: Optional[str]
    table_name: str

    @property
    def storage_table(self) -> str:
        return f"index::{self.document_uri}::{self.index_id}"

    @property
    def sort_by_with_id(self) -> list[SortItem]:
        """Index sort key + implicit trailing id (HyperbusAdapter.scala:121 defIdSort)."""
        return list(self.sort_by) + [SortItem("id", "text", "asc")]


def _index_schema(sort_by: tuple[SortItem, ...]) -> pa.Schema:
    fields = [
        ("document_uri", pa.string()),
        ("index_id", pa.string()),
        ("item_id", pa.string()),
        ("revision", pa.int64()),
        ("body", pa.string()),
    ]
    size = len(sort_by)
    for i, item in enumerate(sort_by):
        name = table_field_name(item, size, i)
        if name == "item_id":
            continue
        fields.append((name, DEC_ARROW if item.effective_type == DECIMAL else pa.string()))
    return pa.schema(fields)


def index_spark_schema(sort_by: tuple[SortItem, ...]) -> str:
    cols = [
        "document_uri string",
        "index_id string",
        "item_id string",
        "revision long",
        "body string",
    ]
    size = len(sort_by)
    for i, item in enumerate(sort_by):
        name = table_field_name(item, size, i)
        if name == "item_id":
            continue
        cols.append(f"{name} {'decimal(38,12)' if item.effective_type == DECIMAL else 'string'}")
    return ", ".join(cols)


def _now_ms() -> int:
    return int(time.time() * 1000)


class IndexAlreadyExists(ValueError):
    """POSTing an index id that already exists on the collection — the
    reference answers Conflict (IndexDefTaskWorker.scala:85-88), so the
    REST facade needs to tell this apart from a plain 400."""


def transaction_id(version: int, ts: int, uid: str) -> str:
    """Public transaction id ``{version}-{ts}-{uuid}`` of the write whose
    feed event ``uid`` flip ``version`` published at ``ts``.

    The reference keys its transactions table (dt_quantum, partition,
    uuid) (TransactionLogic.scala:15-34, db/scheme.cql) so that a status
    lookup is a point read. Here the feed is the log: the version names
    the one feed file that holds the event
    (:meth:`Storage.appended_rows`) and ts+uuid are pushed into its
    scan, so a lookup never sweeps the feed."""
    return f"{version}-{ts}-{uid}"


def _item_rows(df, uri: str, item_id_col: str, revision: int, now: int):
    """Content rows of collection ``uri`` for every row of ``df``: the
    row as the JSON body (with the server-injected ``id``), keyed by
    ``item_id_col``, at ``revision``, created and modified ``now``."""
    from pyspark.sql import functions as F

    item_id = F.col(item_id_col).cast("string")
    return df.select(
        F.lit(uri).alias("document_uri"),
        item_id.alias("item_id"),
        F.lit(revision).cast("long").alias("revision"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns if c != "id"], item_id.alias("id"))).alias("body"),
        F.lit(False).alias("is_deleted"),
        F.lit(now).alias("created_at"),
        F.lit(now).alias("modified_at"),
    )


def _sort_value(item: SortItem, value: Any):
    """Typed sort-column value (IndexLogic.scala:177-182 type semantics)."""
    if value is None:
        return None
    if item.effective_type == DECIMAL:
        try:
            d = to_decimal(value)
        except EvalError:
            return None
        # the value the decimal(38,12) column holds, as the Spark build
        # (_index_rows_df) casts it: rounded half-up to the column's
        # scale, NULL past its integer digits
        if not d.is_finite() or d.adjusted() >= _DEC_INT_DIGITS:
            return None
        d = d.quantize(_DEC_QUANTUM, rounding=ROUND_HALF_UP, context=_DEC_CONTEXT)
        return d if d.adjusted() < _DEC_INT_DIGITS else None
    try:
        return canonical_str(value)
    except EvalError:
        return None


class _PendingWrite:
    """A queued per-item write op awaiting group commit. Filled in by
    whichever caller drains the queue while holding the writer lock.
    ``done`` is set (after result/error) by the applying leader; waiters
    poll it and sleep on the store's group-commit condition — they must
    NOT block on the writer lock itself, or every follower's "is my op
    done?" check serializes 1:1 with submissions and batches of more
    than one op never form (measured: 384 of 385 batches had size 1)."""

    __slots__ = ("method", "path", "body", "result", "error", "done", "txn_id")

    def __init__(self, method: str, path: str, body: Any):
        self.method = method
        self.path = path
        self.body = body
        self.result: Optional[tuple] = None
        self.error: Optional[BaseException] = None
        self.done = False
        self.txn_id: Optional[str] = None  # public transaction id (see transaction_id)


class DocumentStore:
    """Library-mode document store. All writes serialize through one
    lock (single-writer ⇒ gapless revisions); queries run on Spark."""

    # minimum age (s) before vacuum may reclaim an UNREFERENCED staged
    # file (Storage.is_staged: a Spark-staged frame or an executor-
    # staged stream bucket): another process's staging-to-commit
    # window must fit inside it (see vacuum). Class attribute so tests
    # that deliberately reclaim fresh staging garbage can lower it.
    STAGING_GRACE_S = 120.0

    def __init__(
        self,
        root: str,
        spark=None,
        n_buckets: Optional[int] = None,
        storage: Optional[Storage] = None,
    ):
        # ``storage`` injection lets the distributed write path run the
        # unmodified write code against a copy-on-write OverlayStorage
        # on executors (streaming/ingest.py)
        self.storage = storage if storage is not None else Storage(root, n_buckets)
        self.spark = spark
        self._lock = threading.RLock()
        # group-commit queue: ops append here; one leader at a time
        # drains and applies them all in one flip while followers sleep
        # on the condition until their op's ``done`` flag is set
        self._write_queue: deque = deque()
        self._gc_cond = threading.Condition()
        # collections already checked against the current template set
        # (cleared when templates change; re-checking is idempotent)
        self._templated_uris: set[str] = set()

    # -- helpers -------------------------------------------------------------

    def _bucket(self, uri: str) -> int:
        return bucket_of(uri, self.storage.n_buckets)

    def _content_bucket(self, uri: str) -> list[dict]:
        return self.storage.bucket_rows(CONTENT, self._bucket(uri))

    def _statics_bucket(self, uri: str) -> list[dict]:
        return self.storage.bucket_rows(STATICS, self._bucket(uri))

    def _get_static(self, uri: str) -> Optional[dict]:
        """Point read: the uri predicate is pushed into the parquet scan
        (row-group pruning) — never materializes the bucket."""
        rows = self.storage.bucket_rows(
            STATICS, self._bucket(uri), filters=[("document_uri", "==", uri)]
        )
        return next((r for r in rows if r["document_uri"] == uri), None)

    def _get_content(self, uri: str, item_id: str) -> Optional[dict]:
        rows = self.storage.bucket_rows(
            CONTENT,
            self._bucket(uri),
            filters=[("document_uri", "==", uri), ("item_id", "==", item_id)],
        )
        return next(
            (r for r in rows if r["document_uri"] == uri and r["item_id"] == item_id),
            None,
        )

    def index_defs(self, uri: Optional[str] = None) -> list[IndexDef]:
        """The indexes of collection ``uri``; every collection's when None."""
        rows = self.storage.bucket_rows(INDEX_DEFS, 0)
        out = []
        for r in rows:
            if uri is not None and r["document_uri"] != uri:
                continue
            sort_by = tuple(
                SortItem(d["field_name"], d.get("field_type"), d.get("order"))
                for d in json.loads(r["sort_by"])
            )
            out.append(
                IndexDef(r["document_uri"], r["index_id"], r["status"], sort_by, r["filter_by"], r["table_name"])
            )
        return out

    # -- write path (PrimaryWorker analog) ------------------------------------

    def put(self, path: str, body: Any) -> tuple[bool, int]:
        """PUT a document or collection item; returns (created, revision)."""
        return self._write("put", path, body)

    def post(self, path: str, body: Any) -> tuple[str, int]:
        """POST to a collection: generates a sortable id, rewrites to PUT
        (PrimaryWorker.scala:76-91); returns (generated_path, revision)."""
        rp = split_path(path)
        if not (is_collection_uri(rp.document_uri) and rp.item_id == ""):
            raise ValueError("POST is allowed only for a collection~")
        item_id = create_id()
        _, revision = self.put(f"{path}/{item_id}", body)
        return f"{path}/{item_id}", revision

    def patch(self, path: str, body: Any) -> tuple[bool, int]:
        return self._write("patch", path, body)

    def delete(self, path: str) -> int:
        _, revision = self._write("delete", path, None)
        return revision

    def put_txn(self, path: str, body: Any) -> tuple[bool, int, str]:
        """PUT returning ``(created, revision, transaction_id)`` — the
        reference's write responses carry the transaction id
        (hyperstorage.raml HyperStorageTransaction/-Created), which
        clients poll via :meth:`get_transaction`."""
        op = self._submit("put", path, body)
        return (*op.result, op.txn_id)

    def post_txn(self, path: str, body: Any) -> tuple[str, int, str]:
        """POST returning ``(generated_path, revision, transaction_id)``."""
        rp = split_path(path)
        if not (is_collection_uri(rp.document_uri) and rp.item_id == ""):
            raise ValueError("POST is allowed only for a collection~")
        item_id = create_id()
        op = self._submit("put", f"{path}/{item_id}", body)
        return f"{path}/{item_id}", op.result[1], op.txn_id

    def patch_txn(self, path: str, body: Any) -> tuple[bool, int, str]:
        op = self._submit("patch", path, body)
        return (*op.result, op.txn_id)

    def delete_txn(self, path: str) -> tuple[int, str]:
        op = self._submit("delete", path, None)
        return op.result[1], op.txn_id

    def get_transaction(self, transaction_id: str) -> dict:
        """Transaction status by public id (GET
        /hyper-storage/transactions/{transactionId},
        hyperstorage.raml:90-98), answered from the write's feed event:
        the id (see :func:`transaction_id`) names the flip that
        published it, so this reads one manifest and one feed file with
        ts+uuid pushed into the scan. A write completes in its own flip,
        so a known id always reads completed. Raises NotFoundError for
        unknown or malformed ids, and for ids whose event is no longer
        in the feed (dropped by :meth:`truncate_feed`, or undone by
        :meth:`restore_version`)."""
        try:
            version_s, ts_s, uid = transaction_id.split("-", 2)
            version, ts = int(version_s), int(ts_s)
        except (ValueError, AttributeError):
            raise NotFoundError(f"transaction {transaction_id!r}")
        rows = self.storage.appended_rows(FEED, version, [("ts", "==", ts), ("uuid", "==", uid)])
        if not rows:
            raise NotFoundError(f"transaction {transaction_id!r}")
        event = rows[0]
        return {
            "transactionId": transaction_id,
            "path": (
                f"{event['document_uri']}/{event['item_id']}"
                if event["item_id"]
                else event["document_uri"]
            ),
            "revision": event["revision"],
            "method": event["method"],
            "completed": True,
            "completedAt": event["ts"],
        }

    def _write(self, method: str, path: str, body: Any) -> tuple[bool, int]:
        return self._submit(method, path, body).result

    def _submit(self, method: str, path: str, body: Any) -> "_PendingWrite":
        """Single-op front door with GROUP COMMIT: the op is queued and
        whichever caller next holds the writer lock drains the queue and
        applies every queued op in ONE staged manifest flip, which also
        carries their completion (index rows, feed events), so a
        returned write is already complete.
        Under concurrency, N ops cost one flip instead of N; a lone
        writer degenerates to a one-op batch.
        Per-op semantics (revision order, per-op errors) are unchanged —
        ops are staged sequentially exactly as the serial path did."""
        err = self._prepare_op(method, path)
        if err is not None:
            raise err

        op = _PendingWrite(method, path, body)
        self._write_queue.append(op)
        while not op.done:
            # leader election by NON-blocking try-acquire: while a
            # leader is applying, followers sleep on the condition (the
            # leader notifies after every batch) instead of queueing on
            # the lock — that keeps the queue accumulating so the next
            # leader drains a real batch
            if self._lock.acquire(blocking=False):
                try:
                    batch: list[_PendingWrite] = []
                    while True:
                        try:
                            batch.append(self._write_queue.popleft())
                        except IndexError:
                            break
                    if batch:
                        self._apply_write_batch(batch)
                finally:
                    self._lock.release()
                if batch:
                    with self._gc_cond:
                        self._gc_cond.notify_all()
            else:
                with self._gc_cond:
                    # done is always set BEFORE the leader takes the
                    # condition to notify, so this re-check can't miss
                    if not op.done:
                        self._gc_cond.wait(timeout=0.05)
        if op.error is not None:
            raise op.error
        return op

    def write_batch(self, ops) -> list:
        """Apply many ``(method, path, body)`` ops in one staged flip.

        Serial-equivalent semantics: ops apply in list order against the
        evolving state, each failing independently (a bad op doesn't
        abort the rest — exactly what N sequential calls would do).
        Returns one outcome per op: ``(created, revision)`` for writes,
        ``revision`` for deletes, or the exception instance for ops that
        failed (callers decide whether to raise)."""
        batch = []
        for method, path, body in ops:
            op = _PendingWrite(method, path, body)
            op.error = self._prepare_op(method, path)
            batch.append(op)
        with self._lock:
            self._apply_write_batch([op for op in batch if op.error is None])
        out = []
        for op in batch:
            if op.error is not None:
                out.append(op.error)
            elif op.method == "delete":
                out.append(op.result[1])
            else:
                out.append(op.result)
        return out

    # bounded re-stage on a lost cross-process CAS race: results were
    # not exposed yet (``done`` unset), so re-staging the whole batch
    # against the fresh manifest is indistinguishable from the batch
    # simply having run after the winner — the per-item path is
    # therefore safe under MULTIPLE PROCESSES on one root, not just the
    # documented single-writer norm. Retries are generous with jittered
    # backoff (_cas_backoff): the loser restarts a WIDE read-stage
    # window while the winner only re-enters a short CAS, so symmetric
    # contention needs desynchronization, not just repetition
    WRITE_CAS_RETRIES = 24

    @staticmethod
    def _cas_backoff(attempt: int) -> None:
        import random

        time.sleep(random.uniform(0.001, 0.004) * min(attempt + 1, 8))

    def _retry_conflicts(self, attempt_fn, locked: bool = False):
        """Run ``attempt_fn`` until it returns without ManifestConflict,
        at most WRITE_CAS_RETRIES times with jittered backoff, then
        re-raise the last conflict. ``locked`` holds the write window
        across each attempt (released before the backoff: sleeping
        while holding it would stall the very writers we yield to).
        Each attempt must re-read the state it stages."""
        from .storage import ManifestConflict

        last: Optional[BaseException] = None
        for attempt in range(self.WRITE_CAS_RETRIES):
            try:
                if not locked:
                    return attempt_fn()
                with self.storage.write_lock():
                    return attempt_fn()
            except ManifestConflict as e:
                last = e
            if attempt < self.WRITE_CAS_RETRIES - 1:
                self._cas_backoff(attempt)
        raise last  # type: ignore[misc]

    def _prepare_op(self, method: str, path: str):
        """Shared pre-queue validation + template instantiation for
        BOTH write entry points (_write and write_batch) — one place to
        extend, so a rule added for one can't silently miss the other.
        Returns the validation error (or None); template-mandated
        indexes must exist BEFORE the write so _refresh_indexes
        maintains them from the first item."""
        rp = split_path(path)
        if method == "patch" and is_collection_uri(rp.document_uri) and rp.item_id == "":
            return ValueError("PATCH is not allowed for a collection~")
        if rp.item_id:
            self.instantiate_templates(rp.document_uri)
        return None

    def _apply_write_batch(self, batch: list) -> None:
        """Stage every op of the batch against cached bucket state, then
        publish all touched buckets and the successful ops' index rows
        and feed events in ONE manifest flip.
        Caller holds ``self._lock``."""
        try:
            self._apply_write_batch_guarded(batch)
        finally:
            # LIVENESS INVARIANT: a drained op is applied by nobody
            # else, so every exit from this frame — including a
            # KeyboardInterrupt mid-staging or an OSError from the
            # version read, which the guarded body doesn't catch —
            # must leave every op done, or its caller's wait loop
            # spins forever. An op the guarded body didn't mark was
            # NOT committed (staged-only results are not durable), so
            # it gets an error, never its staged result.
            for op in batch:
                if not op.done:
                    if op.error is None:
                        op.error = RuntimeError(
                            "write batch aborted before this op was committed"
                        )
                    op.result = None
                    op.done = True

    def _apply_write_batch_guarded(self, batch: list) -> None:
        from .storage import ManifestConflict

        last_conflict = None
        for attempt in range(self.WRITE_CAS_RETRIES):
            try:
                with self.storage.write_lock():
                    if self._attempt_write_batch(batch):
                        return  # terminal: every op marked done inside
            except ManifestConflict as e:
                # lock-acquisition timeout (a slow peer holds the
                # window), or a data-flip race that slipped the lock —
                # either way nothing of ours is durable: re-stage
                last_conflict = e
            # the lock is RELEASED before backing off — sleeping while
            # holding it would stall the very writers we yield to
            if attempt < self.WRITE_CAS_RETRIES - 1:
                self._cas_backoff(attempt)
        for op in batch:
            if op.error is None:
                op.error = last_conflict or ManifestConflict(
                    "write batch retries exhausted"
                )
            op.done = True

    def _attempt_write_batch(self, batch: list) -> bool:
        """One LOCKED attempt at the batch, published in ONE pinned
        manifest flip. Returns True when the batch reached a terminal
        state (every op marked done, with result or error); False to
        request a re-stage after a lost flip race — in that case nothing
        was exposed and nothing is marked.

        The flip carries the staged buckets, the index delta rows (see
        _refresh_indexes), a collection delete's index drops and the feed
        events: the manifest flip is atomic across tables, so a write
        completes in its own flip and leaves nothing to finish later.
        The flip lands at ``staged_version + 1``, which every op's
        transaction id names (an overlay, with no manifest, mints none)."""
        from .storage import ManifestConflict

        # version pinned BEFORE the staging reads (defense-in-depth:
        # with the window lock held a foreign flip can't interleave,
        # but an unlocked writer path added later would still be
        # caught by the expected_version check instead of erased)
        staged_version = self.storage.current_version()
        # CONTENT/STATICS: bucket → the bucket's staged rows;
        # FEED: this batch's feed events, in op order
        cache: dict = {CONTENT: {}, STATICS: {}, FEED: []}
        dirty: set = set()
        now = _now_ms()
        for op in batch:
            op.result = op.error = None  # re-stage cleanly on retry
            try:
                created, revision, uid = self._stage_op(
                    op.method, op.path, op.body, cache, dirty, now
                )
                op.result = (created, revision)
                if staged_version is not None:
                    op.txn_id = transaction_id(staged_version + 1, now, uid)
            except Exception as e:  # noqa: BLE001 — per-op isolation
                op.error = e
        updates = {(table, b): cache[table][b] for (table, b) in dirty}
        schemas = {CONTENT: CONTENT_SCHEMA, STATICS: STATICS_SCHEMA}
        drop_tables: list[str] = []
        bucket_appends: dict = {}
        try:
            feed_rows = self._stage_completion(
                cache[FEED], updates, schemas, drop_tables, bucket_appends, cache[CONTENT]
            )
            if updates or bucket_appends:
                self.storage.commit(
                    updates,
                    schemas,
                    drop_tables=drop_tables,
                    expected_version=staged_version,
                    appends={FEED: (feed_rows, FEED_SCHEMA)} if feed_rows else None,
                    bucket_appends=bucket_appends,
                )
        except ManifestConflict:
            return False  # lost the flip: re-stage, mark nothing
        except Exception as e:  # noqa: BLE001
            # the flip (or its staging) failed: nothing is durable —
            # every drained op must carry the error (a drained op is
            # applied by nobody else, so leaving done unset would hang
            # its caller's wait loop forever)
            for op in batch:
                if op.error is None:
                    op.error = e
        # ``done`` flips only now — after the flip — so no waiter can
        # observe a success that isn't durable yet
        for op in batch:
            op.done = True
        return True

    def _stage_op(
        self, method: str, path: str, body: Any, cache: dict, dirty: set, now: int
    ) -> tuple[bool, int, str]:
        """One op's in-memory mutation against the batch cache — the
        exact serial ``_write`` logic, with bucket reads served from
        (and results staged back into) ``cache`` so later ops in the
        batch observe earlier ones. Returns (created, revision, the
        uuid of the op's feed event). Raises BEFORE mutating on invalid
        ops, so a failed op leaves the batch state untouched."""
        rp = split_path(path)
        uri, item_id = rp.document_uri, rp.item_id
        bucket = self._bucket(uri)
        if bucket in cache[CONTENT]:
            content_rows = cache[CONTENT][bucket]
        else:
            content_rows = cache[CONTENT][bucket] = self.storage.bucket_rows(CONTENT, bucket)
        if bucket in cache[STATICS]:
            statics_rows = cache[STATICS][bucket]
        else:
            statics_rows = cache[STATICS][bucket] = self.storage.bucket_rows(STATICS, bucket)
        static = next((r for r in statics_rows if r["document_uri"] == uri), None)
        existing = next(
            (r for r in content_rows if r["document_uri"] == uri and r["item_id"] == item_id),
            None,
        )

        revision = (static["revision"] + 1) if static else 1
        created = existing is None or existing["is_deleted"]

        if method == "put":
            new_body = filter_nulls(body)
            if item_id:
                if not isinstance(new_body, dict):
                    raise ValueError("collection item body must be an object")
                new_body = {**new_body, "id": item_id}
            new_row = {
                "document_uri": uri,
                "item_id": item_id,
                "revision": revision,
                "body": json.dumps(new_body),
                "is_deleted": False,
                "created_at": existing["created_at"] if existing and not existing["is_deleted"] else now,
                "modified_at": now,
            }
        elif method == "patch":
            if existing is None or existing["is_deleted"]:
                raise NotFoundError(path)
            merged = merge_patch(
                json.loads(existing["body"]) if existing["body"] is not None else None,
                body,
            )
            new_row = {
                **existing,
                "revision": revision,
                "body": json.dumps(merged) if merged is not None else None,
                "modified_at": now,
            }
            created = False
        elif method == "delete":
            if static is None or (static["is_deleted"] and not item_id):
                raise NotFoundError(path)
            if item_id:
                if existing is None or existing["is_deleted"]:
                    raise NotFoundError(path)
                new_row = None  # row removal (db/Db.scala:190-198)
            else:
                new_row = {
                    "document_uri": uri,
                    "item_id": "",
                    "revision": revision,
                    "body": None,
                    "is_deleted": True,
                    "created_at": existing["created_at"] if existing else now,
                    "modified_at": now,
                }
        else:  # pragma: no cover
            raise ValueError(method)

        # content bucket rewrite
        new_content = [
            r for r in content_rows if not (r["document_uri"] == uri and r["item_id"] == item_id)
        ]
        if new_row is not None:
            new_content.append(new_row)

        # statics upsert (shared revision counter; db/scheme.cql:4 static)
        new_statics = [r for r in statics_rows if r["document_uri"] != uri]
        new_statics.append(
            {
                "document_uri": uri,
                "revision": revision,
                "is_deleted": (method == "delete" and not item_id),
                "created_at": static["created_at"] if static else now,
                "modified_at": now,
            }
        )

        # the op's feed event is its transaction record, published in
        # the batch's own flip with its content
        event = {
            "uuid": uuid.uuid4().hex,
            "document_uri": uri,
            "item_id": item_id,
            "revision": revision,
            "method": f"feed:{method}",
            "body": json.dumps(body) if body is not None else None,
            "ts": now,
        }
        cache[CONTENT][bucket] = new_content
        cache[STATICS][bucket] = new_statics
        cache[FEED].append(event)
        dirty.update({(CONTENT, bucket), (STATICS, bucket)})

        if method == "delete" and not item_id:
            # collection delete drops its indexes (completion path);
            # forgetting the template memo lets a RE-created
            # collection get its template indexes back
            self._templated_uris.discard(uri)

        return created, revision, event["uuid"]

    # -- completion (BackgroundContentTaskCompleter analog) -------------------

    # an item write appends its rows to an index as one delta file while
    # the index's list holds fewer files than this; the write that finds
    # it full folds the index into one base file (see _refresh_indexes).
    # Bounds the files a read opens and the manifest's size, at one
    # whole-index rewrite per this many writes to a collection
    DELTA_MAX_FILES = 8

    def _stage_completion(
        self, events: list, updates: dict, schemas: dict,
        drop_tables: list, bucket_appends: dict, content: dict,
    ) -> list[dict]:
        """Stage the completion of a batch's feed ``events`` (op order)
        into the caller's flip: index delta rows for the touched items
        or, for a collection delete, its index tables dropped and its
        INDEX_DEFS rows removed (BackgroundContentTaskCompleter.scala:
        128-139). ``content`` (bucket → staged content rows) spares the
        index refresh a re-read. Returns the events, each document's in
        revision order."""
        by_uri: dict[str, list[dict]] = {}
        for e in events:
            by_uri.setdefault(e["document_uri"], []).append(e)
        feed_rows: list[dict] = []
        for uri, rows in by_uri.items():
            idefs = self.index_defs(uri)
            if is_collection_uri(uri) and any(e["method"] == "feed:delete" and e["item_id"] == "" for e in rows):
                drop_tables.extend(idef.storage_table for idef in idefs)
                defs = updates.get((INDEX_DEFS, 0))
                if defs is None:
                    defs = self.storage.bucket_rows(INDEX_DEFS, 0)
                updates[(INDEX_DEFS, 0)] = [r for r in defs if r["document_uri"] != uri]
                schemas[INDEX_DEFS] = INDEX_DEFS_SCHEMA
            else:
                self._refresh_indexes(
                    uri, [e["item_id"] for e in rows], updates, bucket_appends, content.get(self._bucket(uri))
                )
            for idef in idefs:
                schemas[idef.storage_table] = _index_schema(idef.sort_by)
            feed_rows.extend(rows)
        return feed_rows

    def _index_row(self, idef: IndexDef, content_row: dict) -> Optional[dict]:
        """Membership + sort-value extraction for one item
        (IndexLogic.scala:81-87: eval error ⇒ excluded). A live item
        whose body is null (a PATCH that merged to null) is judged like
        one with no fields, as the Spark twin ``_index_rows_df`` and the
        base-table plan judge it: an unfiltered index holds it with null
        sort values."""
        if content_row["is_deleted"]:
            return None
        body = json.loads(content_row["body"]) if content_row["body"] is not None else None
        if idef.filter_by:
            try:
                if not truthy(evaluate(parse(idef.filter_by), body if isinstance(body, dict) else {})):
                    return None
            except EvalError:
                return None
        row = {
            "document_uri": idef.document_uri,
            "index_id": idef.index_id,
            "item_id": content_row["item_id"],
            "revision": content_row["revision"],
            "body": content_row["body"],
        }
        for name, value in extract_sort_field_values(list(idef.sort_by), body if isinstance(body, dict) else {}):
            if name == "item_id":
                continue
            item = next(
                s
                for i, s in enumerate(idef.sort_by)
                if table_field_name(s, len(idef.sort_by), i) == name
            )
            row[name] = _sort_value(item, value)
        return row

    def _refresh_indexes(
        self, uri: str, item_ids: list[str], updates: dict, bucket_appends: dict, content_rows: list
    ) -> None:
        """Index maintenance by delta for the touched items across all of
        the document's indexes (L17/L18): one row per touched item — its
        index row, or a tombstone (null revision) when it is not a
        member — staged into ``bucket_appends`` as one delta file per
        index, so a write costs its own index rows, not the index's.
        The write folds an index instead (the merged rows go into
        ``updates`` as one new base file) when its file list is at
        DELTA_MAX_FILES, or when the delta rows, pending plus this
        write's, would exceed both DELTA_MAX_FILES and the base's rows
        divided by DELTA_MAX_FILES: an index-served query fetches one
        extra row per pending delta row, so a batch write's large delta
        is folded at once instead of being paid for by every query until
        the file cap. ``content_rows`` is the document's content bucket as
        the caller staged it."""
        # the collection document itself ('' item id) is no item: every
        # index build leaves it out
        item_ids = sorted(set(item_ids) - {""})
        idefs = [d for d in self.index_defs(uri) if d.status != STATUS_DELETING]
        if not idefs or not item_ids:
            return
        content = {r["item_id"]: r for r in content_rows if r["document_uri"] == uri}
        for idef in idefs:
            table = idef.storage_table
            delta = []
            for item_id in item_ids:
                c = content.get(item_id)
                row = None if c is None else self._index_row(idef, c)
                tombstone = {"document_uri": uri, "index_id": idef.index_id, "item_id": item_id, "revision": None}
                delta.append(row or tombstone)
            files, base_rows, pending = self.storage.bucket_shape(table, 0)
            cap = self.DELTA_MAX_FILES
            if files >= cap or pending + len(delta) > max(cap, base_rows // cap):
                updates[(table, 0)] = merge_delta(self.storage.bucket_rows(table, 0), delta_of([delta]))
            else:
                bucket_appends[(table, 0)] = delta

    # -- bulk collection writes (the 100 TB write path) ------------------------

    def _publish_bulk(self, uri: str, build):
        """THE publisher of the bulk collection writes (ingest_collection,
        merge_collection, expire_items): one :meth:`_flip_staged` that
        registers a Spark-staged frame as the collection's content
        bucket and replaces its statics row with the next revision.

        ``build(static, revision, now)`` gets the collection's statics
        row (None when it has none), the revision to publish and the
        write time, reads what it needs and returns ``(frame, result)``;
        ``frame`` is the whole new content bucket (other documents
        hashing into it included), or None when there is nothing to
        publish. Content and statics share the flip: two flips would let
        a crash strand a half-created collection that can neither be
        queried (no static) nor re-ingested (bucket non-empty). The flip
        is pinned on the content and statics buckets' file lists, read
        before ``build``'s reads: a write to either bucket after them
        refuses the flip instead of being erased by the staged bucket,
        and the next attempt re-runs ``build`` on fresh state (at most
        WRITE_CAS_RETRIES times, then ManifestConflict). Flips to other
        buckets never force a re-stage. Returns the landed (or empty)
        attempt's ``result``. Caller holds self._lock."""
        bucket = self._bucket(uri)

        def attempt():
            pins = {(t, bucket): self.storage.bucket_files(t, bucket) for t in (CONTENT, STATICS)}
            static = self._get_static(uri)
            revision = 1 if static is None else static["revision"] + 1
            now = _now_ms()
            frame, result = build(static, revision, now)
            if frame is None:
                return result
            files = self.storage.stage_frame(frame, CONTENT)
            statics = [r for r in self._statics_bucket(uri) if r["document_uri"] != uri]
            statics.append(
                {
                    "document_uri": uri,
                    "revision": revision,
                    "is_deleted": False,
                    "created_at": now if static is None else static["created_at"],
                    "modified_at": now,
                }
            )
            self._flip_staged(
                pins, {CONTENT: {bucket: files}}, {(STATICS, bucket): statics}, {STATICS: STATICS_SCHEMA}
            )
            return result

        return self._retry_conflicts(attempt)

    def _bucket_content_df(self, uri: str):
        """The content bucket of ``uri`` as a frame over its files, every
        document hashing into it included; None when it has no files."""
        files = self.storage.bucket_files(CONTENT, self._bucket(uri))
        return self.spark.read.schema(CONTENT_SPARK).parquet(*files) if files else None

    def ingest_collection(self, df, collection_uri: str, item_id_col: str) -> int:
        """Bulk-load a Spark DataFrame as a collection: every row becomes
        an item whose body is the row as JSON (+ the server-injected
        ``id``), written by Spark executors directly into the bucket —
        no driver round-trip per item. One atomic manifest flip makes
        the whole collection visible (revision 1) with its statics row,
        exactly like the reference's backfill jobs. This is the ingest
        path that scales: per-item PUT is for the operational API,
        ingest_collection for backfills/migrations. Other documents
        hashing into the collection's content bucket keep their rows.
        """
        if not collection_uri.endswith("~"):
            raise ValueError("ingest_collection requires a collection~ URI")

        def build(static, revision, now):
            if static is not None:
                raise ValueError(f"{collection_uri!r} already exists")
            rows = _item_rows(df, collection_uri, item_id_col, revision, now)
            old = self._bucket_content_df(collection_uri)
            return (rows if old is None else old.unionByName(rows).sort("document_uri", "item_id")), revision

        with self._lock:
            return self._publish_bulk(collection_uri, build)

    def merge_collection(
        self, df, collection_uri: str, item_id_col: str, delete_missing: bool = False
    ) -> int:
        """Bulk UPSERT into an EXISTING collection: every row of ``df``
        becomes/replaces the item named by ``item_id_col``, untouched
        items survive, and the whole batch lands as ONE shared-revision
        bump behind one content+statics manifest flip — the re-crawl /
        refresh path that complements :meth:`ingest_collection` (which
        requires an empty collection). ``delete_missing=True`` switches
        to FULL-SNAPSHOT semantics: the batch IS the collection, and
        items absent from it are removed in the same flip. Executors
        write the merged bucket (sorted, so point-read pruning holds);
        NORMAL indexes refresh INCREMENTALLY afterwards (only the
        batch's ids re-extract — r11; full-snapshot mode still runs the
        full distributed backfill, everything is touched by definition).

        Like ingest_collection, the bulk path publishes no per-item
        feed events (and so mints no transaction ids) — it is the
        backfill surface, not the operational API; consumers needing per-item
        change events use per-item writes or diff snapshots
        (at_version makes that cheap). Returns the new revision."""
        from pyspark.sql import functions as F

        if not collection_uri.endswith("~"):
            raise ValueError("merge_collection requires a collection~ URI")

        def build(static, revision, now):
            if static is None or static["is_deleted"]:
                raise NotFoundError(collection_uri)
            new_rows = _item_rows(df, collection_uri, item_id_col, revision, now)
            old = self._bucket_content_df(collection_uri)
            if old is None:
                old = self.spark.createDataFrame([], CONTENT_SPARK)
            # keep every bucket row EXCEPT this collection's replaced
            # items (other documents hashing into the bucket rewrite
            # unchanged — the bucket is the commit unit); full-snapshot
            # mode drops ALL of this collection's old items instead
            if delete_missing:
                keep = old.filter(F.col("document_uri") != collection_uri)
            else:
                ids = new_rows.select(F.col("item_id").alias("__mid"))
                keep = old.join(
                    ids,
                    (F.col("item_id") == F.col("__mid"))
                    & (F.col("document_uri") == collection_uri),
                    "left_anti",
                )
            merged = keep.unionByName(new_rows).sort("document_uri", "item_id")
            return merged, (revision, new_rows.select(F.col("item_id")))

        with self._lock:
            revision, touched = self._publish_bulk(collection_uri, build)
            # indexes: upsert mode refreshes INCREMENTALLY (only the
            # batch's ids re-extract; untouched MV rows copy columnar —
            # the full rebuild re-parsed every body per merge, an
            # O(collection) cost for an O(batch) change). Full-snapshot
            # mode touches everything by definition: full rebuild.
            for idef in self.index_defs(collection_uri):
                if idef.status == STATUS_NORMAL:
                    if delete_missing:
                        self._backfill_index_spark(idef)
                    else:
                        self._refresh_index_spark_incremental(idef, touched)
            # in-flight BACKGROUND builds may already have materialized
            # chunks for items this merge replaced — restart their keyset
            # scan from the top (chunk merges are item-id idempotent, so
            # a restart is safe and re-reads the merged content)
            pending = self.storage.bucket_rows(PENDING_INDEXES, 0)
            if any(
                p["document_uri"] == collection_uri and p["last_item_id"]
                for p in pending
            ):

                def rewind_pending():
                    rows = self.storage.bucket_rows(PENDING_INDEXES, 0)
                    for p in rows:
                        if p["document_uri"] == collection_uri:
                            p["last_item_id"] = ""
                    self.storage.commit(
                        {(PENDING_INDEXES, 0): rows},
                        {PENDING_INDEXES: PENDING_INDEXES_SCHEMA},
                    )

                self._admin_commit(rewind_pending)
            return revision

    def expire_items(
        self,
        collection_uri: str,
        ts_field: str,
        older_than: str,
        schema: str,
    ) -> tuple[int, int]:
        """Row-level retention: delete every item of the collection
        whose body ``ts_field`` parses strictly before ``older_than``
        (a timestamp string) — the training-data freshness op
        (drop crawl snapshots past their window) the per-item DELETE
        API can't do at scale. Returns (items_removed, new_revision);
        (0, current_revision) when nothing qualifies, with NO revision
        bump (idempotent cron semantics).

        Executes as ONE executor-side bucket rewrite + manifest flip —
        the merge_collection bulk discipline: one shared revision bump,
        no per-item feed events (this is the backfill/maintenance
        surface; at_version diffs recover the removed set when a
        consumer needs it), NORMAL indexes rebuilt through the
        distributed backfill. Items whose ``ts_field`` is missing or
        unparseable are KEPT — retention must never eat rows on a
        schema mismatch."""
        from pyspark.sql import functions as F

        if not collection_uri.endswith("~"):
            raise ValueError("expire_items requires a collection~ URI")
        if self.spark is None:
            raise ValueError("expire_items needs a Spark session (bulk bucket rewrite)")
        # validate the CALLER's cutoff up front: a typo'd retention
        # config would otherwise cast to NULL, the predicate would
        # never match, and the cron would silently delete nothing
        # forever while reporting (0, rev) — use Spark's own parser so
        # accepted formats match the row-side comparison exactly
        probe = self.spark.createDataFrame([(older_than,)], "s string").select(
            F.col("s").try_cast("timestamp").alias("t")
        ).collect()[0]
        if probe.t is None:
            raise ValueError(f"older_than {older_than!r} is not a parseable timestamp")
        cutoff = F.lit(older_than).cast("timestamp")
        # try_cast, not cast: under ANSI a malformed timestamp THROWS
        # mid-rewrite; retention tolerates bad rows by KEEPING them
        ts = F.get_json_object(F.col("body"), f"$.{ts_field}").try_cast("timestamp")
        expired_cond = (
            (F.col("document_uri") == collection_uri)
            & (F.col("item_id") != "")
            & (~F.col("is_deleted"))
            & ts.isNotNull()
            & (ts < cutoff)
        )

        def build(static, revision, now):
            if static is None or static["is_deleted"]:
                raise NotFoundError(collection_uri)
            old = self._bucket_content_df(collection_uri)
            if old is None:
                return None, (0, static["revision"], None)
            n_expired = old.filter(expired_cond).count()
            if n_expired == 0:
                return None, (0, static["revision"], None)
            keep = old.filter(~expired_cond).sort("document_uri", "item_id")
            return keep, (n_expired, revision, old.filter(expired_cond).select("item_id"))

        with self._lock:
            n_expired, revision, expired_ids = self._publish_bulk(collection_uri, build)
            # incremental index refresh: only the expired ids drop out
            # of each MV (their content is gone, so the fresh side is
            # empty by construction); untouched rows copy columnar.
            # The old bucket files back the expired-id frame and stay
            # on disk until vacuum — safe to read after the flip.
            if expired_ids is not None:
                for idef in self.index_defs(collection_uri):
                    if idef.status == STATUS_NORMAL:
                        self._refresh_index_spark_incremental(idef, expired_ids)
            return n_expired, revision

    # -- reads (queryDocument analog) -----------------------------------------

    def get(self, path: str) -> tuple[Any, int]:
        """GET a document or item → (body, revision); 404 ⇒ NotFoundError
        (HyperbusAdapter.scala:358-372). ``is_deleted`` is a *static*
        column in the reference (db/scheme.cql:6), so a document-level
        tombstone hides every item of the collection too."""
        rp = split_path(path)
        row = self._get_content(rp.document_uri, rp.item_id)
        if row is None or row["is_deleted"]:
            raise NotFoundError(path)
        static = self._get_static(rp.document_uri)
        if static is not None and static["is_deleted"]:
            raise NotFoundError(path)
        revision = static["revision"] if static else row["revision"]
        return (json.loads(row["body"]) if row["body"] is not None else None), revision

    # -- index DDL (IndexDefTaskWorker analog) ---------------------------------

    # -- template indexes (reference future work, README «Что на будущее») ----

    def create_index_template(
        self,
        uri_pattern: str,
        index_id: str,
        sort_by: list[SortItem] | None = None,
        filter_by: Optional[str] = None,
    ) -> None:
        """Register an index TEMPLATE: every collection whose URI
        matches ``uri_pattern`` ('/'-segmented, ``*`` matches exactly
        one segment, e.g. ``users/*/posts~``) gets a concrete index
        named ``index_id`` with this definition — instantiated lazily
        on the collection's next write or query, with the standard
        backfill if the collection already has items. The reference
        lists template indexes as future work; here they compose from
        the existing index lifecycle (create_index + backfill +
        incremental maintenance)."""
        from ..expression.evaluator import validate_filter_expression

        if not is_collection_uri(uri_pattern):
            raise ValueError("index templates must target collections ('...~')")
        if not index_id:
            raise ValueError("index templates need an explicit index_id")
        if filter_by is not None and not validate_filter_expression(filter_by):
            raise ValueError(f"invalid filter expression: {filter_by!r}")
        sort_by = list(sort_by or [])
        with self._lock:

            def register_template():
                rows = self.storage.bucket_rows(TEMPLATE_INDEXES, 0)
                if any(
                    r["uri_pattern"] == uri_pattern and r["index_id"] == index_id
                    for r in rows
                ):
                    raise ValueError(
                        f"template {index_id!r} already exists for {uri_pattern!r}"
                    )
                rows.append(
                    {
                        "uri_pattern": uri_pattern,
                        "index_id": index_id,
                        "sort_by": json.dumps(
                            [
                                {
                                    "field_name": s.field_name,
                                    "field_type": s.field_type,
                                    "order": s.order,
                                }
                                for s in sort_by
                            ]
                        ),
                        "filter_by": filter_by,
                    }
                )
                self.storage.commit(
                    {(TEMPLATE_INDEXES, 0): rows},
                    {TEMPLATE_INDEXES: TEMPLATE_INDEXES_SCHEMA},
                )

            self._admin_commit(register_template)
            self._templated_uris.clear()  # re-check every collection once

    def delete_index_template(self, uri_pattern: str, index_id: str) -> None:
        """Unregister a template. Already-instantiated concrete indexes
        stay (they are ordinary indexes owned by their collections —
        drop them with delete_index); only future instantiation stops."""
        with self._lock:

            def drop_template():
                rows = self.storage.bucket_rows(TEMPLATE_INDEXES, 0)
                kept = [
                    r
                    for r in rows
                    if not (r["uri_pattern"] == uri_pattern and r["index_id"] == index_id)
                ]
                if len(kept) == len(rows):
                    raise NotFoundError(f"no template {index_id!r} for {uri_pattern!r}")
                self.storage.commit(
                    {(TEMPLATE_INDEXES, 0): kept},
                    {TEMPLATE_INDEXES: TEMPLATE_INDEXES_SCHEMA},
                )

            self._admin_commit(drop_template)
            self._templated_uris.clear()

    def index_templates(self) -> list[dict]:
        return [dict(r) for r in self.storage.bucket_rows(TEMPLATE_INDEXES, 0)]

    @staticmethod
    def _template_matches(pattern: str, uri: str) -> bool:
        """Segment-count-preserving glob: '*' matches within ONE
        segment (so ``feeds/*~`` matches ``feeds/tech~`` but never
        ``feeds/a/b~`` — template scope stays structural)."""
        from fnmatch import fnmatchcase

        ps, us = pattern.split("/"), uri.split("/")
        return len(ps) == len(us) and all(fnmatchcase(u, p) for p, u in zip(ps, us))

    def instantiate_templates(self, uri: str) -> list[str]:
        """Create any template-mandated indexes missing on ``uri``;
        returns the created index ids. Memoized per template-set
        version, so the write/query hot paths pay one set lookup."""
        if uri in self._templated_uris or not is_collection_uri(uri):
            return []
        created: list[str] = []
        with self._lock:
            templates = self.storage.bucket_rows(TEMPLATE_INDEXES, 0)
            if templates:
                existing = {d.index_id for d in self.index_defs(uri)}
                for t in templates:
                    if t["index_id"] in existing or not self._template_matches(
                        t["uri_pattern"], uri
                    ):
                        continue
                    sort_by = [
                        SortItem(d["field_name"], d.get("field_type"), d.get("order"))
                        for d in json.loads(t["sort_by"])
                    ]
                    self.create_index(uri, t["index_id"], sort_by, t["filter_by"])
                    created.append(t["index_id"])
                    # two templates sharing an index_id can both match
                    # one collection; first match wins, the second must
                    # see the id as taken (not crash create_index)
                    existing.add(t["index_id"])
            self._templated_uris.add(uri)
        return created

    def _admin_commit(self, attempt_fn):
        """Run an admin read-stage-commit closure with the WRITE PATH's
        concurrency discipline: the cross-process write-window lock
        plus CAS retries with jittered backoff. Admin commits
        (index/template DDL) used to flip unprotected and simply LOSE
        to a concurrent writer fleet (ManifestConflict surfaced to the
        caller — the round-11 DDL soak caught exactly this). The
        closure re-reads whatever state it stages, so each retry
        merges against the fresh manifest; non-conflict exceptions
        (e.g. IndexAlreadyExists) propagate immediately."""
        return self._retry_conflicts(attempt_fn, locked=True)

    def create_index(
        self,
        uri: str,
        index_id: Optional[str],
        sort_by: list[SortItem] | None = None,
        filter_by: Optional[str] = None,
        use_spark: Optional[bool] = None,
        background: bool = False,
    ) -> str:
        """POST an index: validate, register INDEXING, backfill, flip to
        NORMAL (IndexDefTaskWorker.scala:71-110 + IndexContentTaskWorker).

        ``background=True`` registers the index and a pending-build row
        and returns immediately (the reference's pending_index table,
        IndexManager.scala:94-175): the build is driven in bounded
        chunks by :meth:`process_pending_indexes`, with keyset resume
        and a retry timer. Writes keep maintaining an INDEXING index
        incrementally in both modes, so the chunked backfill and live
        traffic converge."""
        from ..expression.evaluator import validate_filter_expression

        if not is_collection_uri(uri):
            raise ValueError("indexes are only supported for collections")
        sort_by = list(sort_by or [])
        if filter_by is not None and not validate_filter_expression(filter_by):
            raise ValueError(f"invalid filter expression: {filter_by!r}")
        index_id = index_id or f"index-{create_id()}"

        with self._lock:
            tname = table_name(sort_by)
            sort_by_json = json.dumps(
                [
                    {"field_name": s.field_name, "field_type": s.field_type, "order": s.order}
                    for s in sort_by
                ]
            )

            def register():
                defs_rows = self.storage.bucket_rows(INDEX_DEFS, 0)
                if any(
                    r["document_uri"] == uri and r["index_id"] == index_id
                    for r in defs_rows
                ):
                    raise IndexAlreadyExists(
                        f"index {index_id!r} already exists on {uri!r}"
                    )
                defs_rows.append(
                    {
                        "document_uri": uri,
                        "index_id": index_id,
                        "status": STATUS_INDEXING,
                        "sort_by": sort_by_json,
                        "filter_by": filter_by,
                        "table_name": tname,
                    }
                )
                # the index-DDL feed event rides in the same flip as the
                # registration (the reference publishes lifecycle events
                # on the IndexDefTaskWorker accept path) — CDC consumers
                # see the DDL in stream order with the content events
                self.storage.commit(
                    {(INDEX_DEFS, 0): defs_rows},
                    {INDEX_DEFS: INDEX_DEFS_SCHEMA},
                    appends={
                        FEED: (
                            [self._index_ddl_event("feed:indexpost", uri, index_id,
                                                   sort_by_json, filter_by)],
                            FEED_SCHEMA,
                        )
                    },
                )

            self._admin_commit(register)

            idef = IndexDef(uri, index_id, STATUS_INDEXING, tuple(sort_by), filter_by, tname)
            if background:

                def register_pending():
                    pending = self.storage.bucket_rows(PENDING_INDEXES, 0)
                    pending.append(
                        {
                            "document_uri": uri,
                            "index_id": index_id,
                            "last_item_id": "",
                            "retry_count": 0,
                            "next_retry_at": 0,
                        }
                    )
                    self.storage.commit(
                        {(PENDING_INDEXES, 0): pending},
                        {PENDING_INDEXES: PENDING_INDEXES_SCHEMA},
                    )

                self._admin_commit(register_pending)
                return index_id
            if use_spark is None:
                # footer metadata row count — deciding "too big for the
                # driver" must not itself decode the whole bucket
                import pyarrow.parquet as _pq

                n_rows = sum(
                    _pq.ParquetFile(f).metadata.num_rows
                    for f in self.storage.bucket_files(CONTENT, self._bucket(uri))
                )
                use_spark = self.spark is not None and n_rows > 10000
            if use_spark:
                self._backfill_index_spark(idef)
            else:
                # driver-side backfill (IndexContentTaskWorker.scala:39-90;
                # keyset-resume buckets are unnecessary — one bucket).
                # Content re-reads INSIDE the retry closure: a retried
                # commit must index the rows of the manifest it lands on
                def backfill():
                    rows = []
                    for c in sorted(
                        (
                            r
                            for r in self._content_bucket(uri)
                            if r["document_uri"] == uri and r["item_id"]
                        ),
                        key=lambda r: r["item_id"],
                    ):
                        row = self._index_row(idef, c)
                        if row is not None:
                            rows.append(row)
                    self.storage.commit(
                        {(idef.storage_table, 0): rows},
                        {idef.storage_table: _index_schema(idef.sort_by)},
                    )

                self._admin_commit(backfill)

            # flip to NORMAL — only now is the index visible to the planner
            # (db/Db.scala:103-107, HyperbusAdapter.scala:152)
            def flip_normal():
                defs_rows = self.storage.bucket_rows(INDEX_DEFS, 0)
                for r in defs_rows:
                    if r["document_uri"] == uri and r["index_id"] == index_id:
                        r["status"] = STATUS_NORMAL
                self.storage.commit(
                    {(INDEX_DEFS, 0): defs_rows}, {INDEX_DEFS: INDEX_DEFS_SCHEMA}
                )

            self._admin_commit(flip_normal)
            return index_id

    def _index_rows_df(self, idef: IndexDef, content_df):
        """Index-row projection over live content rows: membership
        filter + sort-column extraction as Column expressions (the
        distributed twin of the driver-side ``_index_row``)."""
        from pyspark.sql import functions as F

        from ..expression.compiler import apply_filter, variant_parts

        df = content_df
        if idef.filter_by:
            df = apply_filter(df, idef.filter_by, json_col="body", json_only=True)
        v = F.try_parse_json(F.col("body"))
        cols = [
            F.col("document_uri"),
            F.lit(idef.index_id).alias("index_id"),
            F.col("item_id"),
            F.col("revision"),
            F.col("body"),
        ]
        size = len(idef.sort_by)
        for i, item in enumerate(idef.sort_by):
            name = table_field_name(item, size, i)
            if name == "item_id":
                continue
            parts = variant_parts(v, "$." + item.field_name)
            # same typing rules as the driver-side _sort_value: decimal
            # columns only for numeric values, text columns only for
            # scalar string forms (containers → NULL)
            val = parts["n"] if item.effective_type == DECIMAL else parts["s"]
            cols.append(val.alias(name))
        return df.select(*cols)

    def _live_content_df(self, uri: str):
        from pyspark.sql import functions as F

        return self.storage.spark_df_or_empty(self.spark, CONTENT, CONTENT_SPARK).filter(
            (F.col("document_uri") == uri)
            & (F.col("item_id") != "")
            & (~F.col("is_deleted"))
        )

    def _flip_staged(self, pins, files, updates=None, schemas=None) -> int:
        """THE flip of Spark-staged builds (bulk collection writes, index
        builds): ONE attempt, under the write window, pinned on the
        committed file lists of the buckets the build read — ``pins``
        maps (table, bucket) to the list read before the build. A moved
        list raises ManifestConflict. The caller owns the retry: its
        staged files embed the stale read, so it must re-stage, not
        re-flip, and holding the lock across its Spark job would stall
        every concurrent writer for the build's duration. Pinning on the
        buckets read, not on the global manifest version, means flips
        elsewhere (the busy writer fleet) never force a re-stage.
        ``files``, ``updates`` and ``schemas`` go to one
        :meth:`Storage.commit`; ``updates`` must come from pinned
        buckets, which the check proves unchanged."""
        from .storage import ManifestConflict

        with self.storage.write_lock():
            for (table, bucket), expect in pins.items():
                if sorted(self.storage.bucket_files(table, bucket)) != sorted(expect):
                    raise ManifestConflict(
                        f"{table} bucket {bucket}: committed files moved since "
                        "the staged build read them"
                    )
            return self.storage.commit(updates or {}, schemas or {}, files=files)

    def _backfill_index_spark(self, idef: IndexDef) -> None:
        """Distributed FULL index backfill: membership filter +
        sort-column extraction run as Column expressions on executors;
        the MV lands via one manifest flip. This is the L19 path that
        scales to collections far beyond driver memory.

        The flip is PINNED on the index table's committed file list,
        snapshotted BEFORE the content frame is constructed (review
        r12): per-item writes commit content + index MV rows in ONE
        atomic manifest flip (``_refresh_indexes`` stages into the same
        flip, appending a delta file), so any write landing after our
        content snapshot necessarily moved the index table's files and the
        one-attempt ``_flip_staged`` raises
        ``ManifestConflict`` — we re-snapshot and re-stage instead of
        silently overwriting that write's fresh MV row (which would
        leave content and index permanently divergent).

        Convergence under sustained writes (review r12): only the FIRST
        attempt stages the whole collection; every retry is an O(delta)
        CATCH-UP, not another full rebuild. Alongside each staged MV we
        stage the content (item_id, revision) pairs the extraction saw
        — revisions are per-item monotonic and bump on every write, so
        equal revision ⇒ identical body ⇒ identical index row. On
        conflict the next round re-extracts only items whose revision
        moved (or that appeared/disappeared), keeps the previous staged
        rows for everything else (a columnar copy, no JSON re-parse),
        and re-pins. A busy writer fleet then races a seconds-long
        delta stage instead of a full rebuild it can outrun 24 times —
        the starvation mode of the naive retry. The rev snapshot is
        staged BEFORE the MV extraction, so an item written between the
        two stagings is flagged and re-extracted (redundantly but
        correctly) next round — never kept stale."""
        from pyspark.sql import functions as F

        from .storage import ManifestConflict

        last: Optional[BaseException] = None
        staged = None  # previous round's MV rows, parquet-backed
        prev_revs = None  # the (item_id, revision) pairs that staging saw
        for attempt in range(self.WRITE_CAS_RETRIES):
            snapshot_files = self.storage.bucket_files(idef.storage_table, 0)
            content = self._live_content_df(idef.document_uri)
            revs = content.select("item_id", "revision")
            if staged is None:
                df = self._index_rows_df(idef, content)
            else:
                n, o = revs.alias("n"), prev_revs.alias("o")
                touched = (
                    n.join(o, F.col("n.item_id") == F.col("o.item_id"), "full_outer")
                    .filter(
                        F.col("n.revision").isNull()
                        | F.col("o.revision").isNull()
                        | (F.col("n.revision") != F.col("o.revision"))
                    )
                    .select(
                        F.coalesce(F.col("n.item_id"), F.col("o.item_id")).alias("item_id")
                    )
                )
                keep = staged.join(touched, "item_id", "left_anti").select(
                    *[f.name for f in staged.schema.fields]
                )
                fresh = self._index_rows_df(
                    idef, content.join(touched, "item_id", "left_semi")
                )
                df = keep.unionByName(fresh)
            rev_files = self.storage.stage_frame(revs, idef.storage_table)
            files = self.storage.stage_frame(df, idef.storage_table)
            try:
                self._flip_staged(
                    {(idef.storage_table, 0): snapshot_files}, {idef.storage_table: {0: files}}
                )
                return
            except ManifestConflict as e:
                last = e
            staged = self.spark.read.parquet(*files)
            prev_revs = self.spark.read.parquet(*rev_files)
            if attempt < self.WRITE_CAS_RETRIES - 1:
                self._cas_backoff(attempt)
        raise last  # type: ignore[misc]

    def _refresh_index_spark_incremental(self, idef: IndexDef, touched_ids) -> None:
        """Distributed INCREMENTAL index refresh for bulk writes
        (round 11): ``touched_ids`` is a one-column (item_id) frame of
        the items a merge/expire batch touched. Existing MV rows of
        untouched items are KEPT AS-IS (a columnar copy — no JSON
        re-parse), touched items' rows are anti-joined out and
        re-extracted from the post-flip content. The full rebuild
        re-parsed EVERY body per batch — O(collection) variant
        extraction for an O(batch) change; this pays extraction only
        for the batch (the rewrite of the MV files is a columnar
        union, the cheap part). Result is row-identical to a full
        rebuild (pytest-pinned)."""
        from pyspark.sql import functions as F

        touched_ids = touched_ids.select(F.col(touched_ids.columns[0]).alias("item_id"))
        # the keep-side is a SNAPSHOT of the committed MV, so the flip
        # is pinned on the MV's file list and a lost race RE-STAGES from
        # the fresh manifest (the write path's discipline): without the pin, two
        # concurrent bulk merges would each flip a keep-side missing
        # the other's fresh rows — a permanent lost update. The full
        # rebuild has the same stage-then-flip window (a per-item write
        # between its content snapshot and its flip) and is pinned the
        # same way since r12 (_backfill_index_spark)
        def attempt():
            table = idef.storage_table
            snapshot_files = self.storage.bucket_files(table, 0)
            existing, delta = self.storage.spark_df_and_delta(
                self.spark, table, index_spark_schema(idef.sort_by)
            )
            # the frame holds the base files only: items with pending
            # delta rows re-extract from content like the touched ones
            touched = touched_ids
            if delta:
                touched = touched.unionByName(
                    self.spark.createDataFrame([(i,) for i in delta], "item_id string")
                )
            keep = existing.join(touched, "item_id", "left_anti").select(
                *[f.name for f in existing.schema.fields]
            )
            fresh_content = self._live_content_df(idef.document_uri).join(
                touched, "item_id", "left_semi"
            )
            fresh = self._index_rows_df(idef, fresh_content)
            files = self.storage.stage_frame(keep.unionByName(fresh.select(*keep.columns)), table)
            self._flip_staged({(table, 0): snapshot_files}, {table: {0: files}})

        self._retry_conflicts(attempt)

    # retry backoff for failed background builds — the reference's
    # PendingIndexWorker re-arms a 60 s timer (PendingIndexWorker.scala:24-98)
    INDEX_RETRY_MS = 60_000

    def pending_indexes(self) -> list[dict]:
        return self.storage.bucket_rows(PENDING_INDEXES, 0)

    def process_pending_indexes(
        self, max_concurrent: int = 2, chunk_size: int = 1000, now_ms: Optional[int] = None
    ) -> int:
        """One IndexManager tick (IndexManager.scala:94-175 +
        PendingIndexWorker.scala:24-98): drive at most ``max_concurrent``
        pending builds forward by ONE chunk of ``chunk_size`` items each
        (keyset resume from ``last_item_id``), flipping an index to
        NORMAL when its scan completes. A failing build records
        retry_count and re-arms ``next_retry_at`` = now + 60 s instead
        of poisoning the tick. Returns the number of builds progressed.

        Call this from a scheduler loop (or once per micro-batch in a
        streaming job) — it is crash-safe: all progress lives in the
        pending row's watermark, committed with the chunk."""
        now = _now_ms() if now_ms is None else now_ms
        progressed = 0
        with self._lock:
            pending = self.storage.bucket_rows(PENDING_INDEXES, 0)
            eligible = [p for p in pending if p["next_retry_at"] <= now][:max_concurrent]
            for p in eligible:
                # every commit below runs through _admin_commit with a
                # FRESH read of the staged buckets (the r11 admin-race
                # discipline): under a concurrent writer fleet the old
                # in-place commits simply lost their flips
                def match(q):
                    return (
                        q["document_uri"] == p["document_uri"]
                        and q["index_id"] == p["index_id"]
                    )

                try:
                    done, new_last = self._backfill_chunk(
                        p["document_uri"], p["index_id"], p["last_item_id"], chunk_size
                    )
                except Exception:

                    def bump_retry():
                        rows = self.storage.bucket_rows(PENDING_INDEXES, 0)
                        for q in rows:
                            if match(q):
                                q["retry_count"] += 1
                                q["next_retry_at"] = now + self.INDEX_RETRY_MS
                        self.storage.commit(
                            {(PENDING_INDEXES, 0): rows},
                            {PENDING_INDEXES: PENDING_INDEXES_SCHEMA},
                        )

                    self._admin_commit(bump_retry)
                    continue
                progressed += 1
                if done:

                    def finish():
                        defs_rows = self.storage.bucket_rows(INDEX_DEFS, 0)
                        for r in defs_rows:
                            if match(r) and r["status"] == STATUS_INDEXING:
                                r["status"] = STATUS_NORMAL
                        rows = [
                            q
                            for q in self.storage.bucket_rows(PENDING_INDEXES, 0)
                            if not match(q)
                        ]
                        self.storage.commit(
                            {(INDEX_DEFS, 0): defs_rows, (PENDING_INDEXES, 0): rows},
                            {
                                INDEX_DEFS: INDEX_DEFS_SCHEMA,
                                PENDING_INDEXES: PENDING_INDEXES_SCHEMA,
                            },
                        )

                    self._admin_commit(finish)
                else:

                    def advance():
                        rows = self.storage.bucket_rows(PENDING_INDEXES, 0)
                        for q in rows:
                            if match(q):
                                q["last_item_id"] = new_last
                        self.storage.commit(
                            {(PENDING_INDEXES, 0): rows},
                            {PENDING_INDEXES: PENDING_INDEXES_SCHEMA},
                        )

                    self._admin_commit(advance)
        return progressed

    def _backfill_chunk(
        self, uri: str, index_id: str, last_item_id: str, chunk_size: int
    ) -> tuple[bool, str]:
        """Backfill one keyset chunk (item_id > last_item_id, first
        chunk_size items in id order) into the MV, merged by item_id so
        live writes that already materialized an item stay idempotent.
        Returns (scan complete?, new watermark)."""
        idef = next(
            (d for d in self.index_defs(uri) if d.index_id == index_id), None
        )
        if idef is None:
            return True, last_item_id  # index dropped while pending
        # the watermark pushes into the parquet read: buckets are
        # key-sorted with bounded row groups, so each chunk decodes
        # only the row groups past last_item_id instead of re-reading
        # the whole bucket every chunk (O(n²) over a big collection)
        rows = self.storage.bucket_rows(
            CONTENT,
            self._bucket(uri),
            filters=[("document_uri", "==", uri), ("item_id", ">", last_item_id)]
            if last_item_id
            else [("document_uri", "==", uri)],
        )
        items = sorted(
            (
                r
                for r in rows
                if r["document_uri"] == uri
                and r["item_id"]
                and r["item_id"] > last_item_id
                and not r["is_deleted"]
            ),
            key=lambda r: r["item_id"],
        )
        chunk = items[:chunk_size]
        if chunk:

            def merge_chunk():
                existing = self.storage.bucket_rows(idef.storage_table, 0)
                chunk_ids = {c["item_id"] for c in chunk}
                merged = [r for r in existing if r["item_id"] not in chunk_ids]
                for c in chunk:
                    row = self._index_row(idef, c)
                    if row is not None:
                        merged.append(row)
                self.storage.commit(
                    {(idef.storage_table, 0): merged},
                    {idef.storage_table: _index_schema(idef.sort_by)},
                )

            self._admin_commit(merge_chunk)
        done = len(items) <= chunk_size
        return done, (chunk[-1]["item_id"] if chunk else last_item_id)

    def delete_index(self, uri: str, index_id: str) -> None:
        with self._lock:

            def drop():
                defs_rows = self.storage.bucket_rows(INDEX_DEFS, 0)
                target = next(
                    (
                        r
                        for r in defs_rows
                        if r["document_uri"] == uri and r["index_id"] == index_id
                    ),
                    None,
                )
                if target is None:
                    raise NotFoundError(index_id)
                remaining = [r for r in defs_rows if r is not target]
                # drop + DDL feed event in one flip (reference publishes
                # on the IndexDefTaskWorker delete-accept path)
                self.storage.commit(
                    {(INDEX_DEFS, 0): remaining},
                    {INDEX_DEFS: INDEX_DEFS_SCHEMA},
                    drop_tables=[f"index::{uri}::{index_id}"],
                    appends={
                        FEED: (
                            [self._index_ddl_event("feed:indexdelete", uri, index_id,
                                                   target["sort_by"], target["filter_by"])],
                            FEED_SCHEMA,
                        )
                    },
                )

            self._admin_commit(drop)

    @staticmethod
    def _index_ddl_event(method: str, uri: str, index_id: str,
                         sort_by_json: Optional[str], filter_by: Optional[str]) -> dict:
        """Feed envelope for an index-lifecycle event: item_id carries
        the index id, body the definition; revision 0 marks it as DDL
        (content revisions start at 1, so consumers can't confuse the
        two)."""
        return {
            "uuid": uuid.uuid4().hex,
            "document_uri": uri,
            "item_id": index_id,
            "revision": 0,
            "method": method,
            "body": json.dumps(
                {"indexId": index_id, "sortBy": json.loads(sort_by_json or "[]"),
                 "filterBy": filter_by}
            ),
            "ts": _now_ms(),
        }

    # -- feed ------------------------------------------------------------------

    def collection_df(self, uri: str, schema: Optional[str] = None):
        """A typed DataFrame over a collection's item bodies — the bridge
        from the document store to the analytics surface: every catalog
        operator (joins/aggs/dedup/...) runs directly on the result.

        ``schema`` is a DDL string for the body; omitted → inferred from
        the stored JSON (driver samples up to 1000 items)."""
        from pyspark.sql import functions as F

        static = self._get_static(uri)
        if static is None or static["is_deleted"]:
            raise NotFoundError(uri)
        df = self.storage.spark_df_or_empty(self.spark, CONTENT, CONTENT_SPARK).filter(
            (F.col("document_uri") == uri) & (F.col("item_id") != "") & (~F.col("is_deleted"))
        )
        # null bodies (a PATCH whose merge result was Null — reference
        # parity) carry no fields: exclude them from the typed view
        df = df.filter(F.col("body").isNotNull())
        if schema is None:
            sample = [r.body for r in df.select("body").limit(1000).collect()]
            inferred = self.spark.read.json(
                self.spark.sparkContext.parallelize(sample or ["{}"])
            ).schema
            parsed = F.from_json(F.col("body"), inferred)
        else:
            parsed = F.from_json(F.col("body"), schema)
        return df.select(
            F.col("item_id"), F.col("revision"), parsed.alias("item")
        ).select("item_id", "revision", "item.*")

    # -- rollup MVs (store/rollups.py; lifecycle mirrors create_index) --------

    def create_rollup(self, uri: str, ts_field: str, key_fields, value_field: str,
                      resolution: str = "day", schema: str = "", rollup_id=None,
                      distinct_field=None, sumsq: bool = False, sample_k: int = 0) -> str:
        from . import rollups

        return rollups.create_rollup(
            self, uri, ts_field, key_fields, value_field,
            resolution=resolution, schema=schema, rollup_id=rollup_id,
            distinct_field=distinct_field, sumsq=sumsq, sample_k=sample_k,
        )

    def refresh_rollup(self, uri: str, rollup_id: str) -> str:
        from . import rollups

        return rollups.refresh_rollup(self, uri, rollup_id)

    def drop_rollup(self, uri: str, rollup_id: str) -> None:
        from . import rollups

        rollups.drop_rollup(self, uri, rollup_id)

    def rollup_defs(self, uri: str):
        from . import rollups

        return rollups.rollup_defs(self, uri)

    def rollup_view(self, uri: str, rollup_id: str, resolution=None):
        from . import rollups

        return rollups.rollup_view(self, uri, rollup_id, resolution=resolution)

    def aggregate(self, uri: str, ts_field: str, key_fields, value_field: str,
                  resolution: str = "day", schema: str = "", auto_refresh: bool = True,
                  distinct_field=None, sumsq: bool = False, sample_k: int = 0):
        from . import rollups

        return rollups.aggregate(
            self, uri, ts_field, key_fields, value_field,
            resolution=resolution, schema=schema, auto_refresh=auto_refresh,
            distinct_field=distinct_field, sumsq=sumsq, sample_k=sample_k,
        )

    def vacuum(self, grace_seconds: float = 3600.0, keep_versions: Optional[int] = None) -> int:
        """Delete data files no longer referenced by any RETAINED
        manifest — current or time-travel snapshot. Returns the parquet
        files removed.

        ``keep_versions`` overrides the snapshot retention for this
        pass (the Delta-VACUUM-style trade): None keeps every snapshot
        the flip-time pruning retained (history stays readable), a
        smaller number first drops older snapshots — including 0,
        which unpins everything but the current manifest and
        deliberately forfeits time travel over the reclaimed history.

        Runs under the store lock (the manifest snapshot and the walk
        must not interleave with a concurrent commit), and skips files
        younger than ``grace_seconds``: staged files (streaming
        batches, bulk writes, index and rollup builds) exist on disk
        BEFORE the manifest flip that registers them and hold no lock —
        deleting them mid-window would break the commit. Files that
        ``Storage.is_staged`` recognises therefore wait at least
        STAGING_GRACE_S whatever ``grace_seconds`` says; 0 is only safe
        for other files with no concurrent writers."""
        import os

        if keep_versions is not None and keep_versions < 0:
            # a negative keep is always caller error — validate BEFORE
            # taking the lock and walking every table's file list
            # (without this it silently behaved like keep=0 and
            # deleted ALL time-travel history)
            raise ValueError(f"keep_versions must be >= 0, got {keep_versions}")
        with self._lock:
            now = time.time()
            referenced = set()
            for table in self.storage.tables():
                referenced.update(os.path.abspath(p) for p in self.storage.files(table))
            # retained time-travel snapshots pin their bucket files too:
            # a file only becomes garbage once NO retained manifest
            # (current or historical) references it
            snapdir = self.storage._snapshot_dir()
            try:
                # NUMERIC sort (review r12, same as _write_manifest's
                # pruning): past 8-digit versions a lexical sort would
                # cut the NEWEST snapshots instead of the oldest
                snaps = sorted(
                    (
                        n for n in os.listdir(snapdir)
                        if n.startswith("v") and n.endswith(".json")
                    ),
                    key=lambda n: int(n[1:-5]),
                )
            except (OSError, ValueError):
                snaps = []
            if keep_versions is not None:
                # clamp so keep_versions > len(snaps) keeps everything —
                # an unclamped negative split point would wrap and delete
                # the OLDEST snapshots the caller asked to retain
                cut = len(snaps) if keep_versions == 0 else max(0, len(snaps) - keep_versions)
                for name in snaps[:cut]:
                    try:
                        os.remove(os.path.join(snapdir, name))
                    except OSError:
                        pass
                snaps = snaps[cut:]
            for name in snaps:
                try:
                    with open(os.path.join(snapdir, name)) as f:
                        tables = json.load(f).get("tables", {})
                except (OSError, ValueError):
                    continue
                for rel in tables.values():
                    for r in rel.values():
                        for one in r if isinstance(r, list) else [r]:
                            referenced.add(os.path.abspath(os.path.join(self.storage.root, one)))
            removed = 0
            data_root = os.path.join(self.storage.root, "data")
            # STAGING files live on disk UNREFERENCED until their
            # writer's manifest flip — and the writer may be ANOTHER
            # process whose staging-to-commit window (a Spark write plus
            # CAS retries under contention) can far exceed a short
            # grace. Deleting one mid-window makes the subsequent commit
            # register a dangling reference (caught by the round-9 soak:
            # a 0.5 s-grace vacuum ate a concurrent refresh's staged MV
            # files). Storage names every such file, and
            # Storage.is_staged recognises it by that name alone, so
            # those candidates get a floor grace wide enough for any
            # realistic staging window; a crashed writer's abandoned
            # staging files are still reclaimed, one horizon later.
            # Committed staged files keep their names, so recently
            # SUPERSEDED ones also wait out the floor — the accepted
            # cost (STAGING_GRACE_S of extra garbage retention) of not
            # being able to tell a foreign writer's in-flight staging
            # from fresh garbage by name alone. A Spark-staged directory
            # also holds _SUCCESS and .crc files: once none of its
            # parquet files is referenced they go too, under the same
            # floor, and then the directory itself, if it is empty and
            # was already that old before this pass.
            staged_floor = max(grace_seconds, self.STAGING_GRACE_S)

            def aged(path: str, floor: float) -> bool:
                try:
                    return now - os.path.getmtime(path) >= floor
                except OSError:
                    return False  # vanished concurrently

            for dirpath, _dirs, files in os.walk(data_root, topdown=False):
                staged_dir = self.storage.is_staged(dirpath)
                dir_aged = staged_dir and aged(dirpath, staged_floor)
                paths = [os.path.abspath(os.path.join(dirpath, f)) for f in files]
                sweep_all = staged_dir and not any(p in referenced for p in paths)
                for p in paths:
                    if p in referenced or not (sweep_all or p.endswith(".parquet")):
                        continue
                    if aged(p, staged_floor if self.storage.is_staged(p) else grace_seconds):
                        os.remove(p)
                        removed += p.endswith(".parquet")
                if dir_aged:
                    try:
                        os.rmdir(dirpath)
                    except OSError:
                        pass  # still holds a referenced or young file
            return removed

    def info(self) -> dict:
        """Operational snapshot of the store: manifest version, retained
        time-travel versions, per-table file/byte/bucket counts — the
        numbers an operator needs to size vacuum/compaction and to
        watch growth; ``bucket_segments`` counts the files in bucket
        lists beyond one per bucket, which for an index table's pending
        delta files is the backlog compact_appends folds — and this
        handle's decoded-row cache counters (``read_cache``:
        hits, misses, rows and files held, row cap).
        Reads only the manifest + file metadata (no data decode), so it
        is safe to poll."""
        import os

        manifest = self.storage._read_manifest()
        tables: dict[str, dict] = {}
        for table in manifest["tables"]:
            files = self.storage.files(table)
            size = 0
            for p in files:
                try:
                    size += os.path.getsize(p)
                except OSError:
                    pass  # vacuumed/renamed concurrently
            entry = manifest["tables"][table]
            tables[table] = {
                "files": len(files),
                "bytes": size,
                "buckets": sum(1 for k in entry if not k.startswith("a")),
                "append_segments": sum(1 for k in entry if k.startswith("a")),
                # files in bucket lists beyond one per bucket: for an
                # index, the delta files compact_appends will fold
                "bucket_segments": sum(
                    len(v) - 1 for k, v in entry.items() if not k.startswith("a") and isinstance(v, list) and v
                ),
            }
        return {
            "root": self.storage.root,
            "version": manifest["version"],
            "n_buckets": self.storage.n_buckets,
            "retained_versions": self.storage.versions(),
            "meta": dict(manifest.get("meta", {})),
            "tables": tables,
            "read_cache": self.storage.read_cache_stats(),
        }

    def at_version(self, version: int) -> "DocumentStore":
        """Time travel: a READ-ONLY DocumentStore pinned to the store
        exactly as it was at manifest ``version`` (every flip snapshots
        its manifest; ``storage.versions()`` lists what's retained —
        the last ``Storage.SNAPSHOT_KEEP`` flips). GET/query/
        collection_df all resolve against the frozen snapshot; any
        write raises. Vacuum never reclaims a file a retained snapshot
        still references, so historical reads stay consistent."""
        return DocumentStore(
            self.storage.root,
            spark=self.spark,
            storage=self.storage.snapshot(version),
        )

    def restore_version(self, version: int) -> int:
        """Zero-copy rollback: make the store's CURRENT state the table
        layout of retained snapshot ``version`` — one manifest flip, no
        data movement (bucket files are immutable, so restoring is just
        re-pointing at the old file list). Returns the NEW manifest
        version; history is preserved (the rollback itself snapshots,
        so a rollback can be rolled back).

        Manifest ``meta`` (streaming watermarks etc.) is deliberately
        KEPT at its current values, not the snapshot's: rewinding a
        batch watermark would make a restarted stream re-apply batches
        against the restored state and double-write. Restoring data
        while watermarks stand still is the safe direction — already-
        processed batches stay processed.

        Fails (ManifestConflict) if another process flips concurrently;
        ValueError if the version aged out of retention."""
        with self._lock:
            snap = self.storage.snapshot(version)  # validates retention
            manifest = self.storage._read_manifest()
            restored_tables = json.loads(json.dumps(snap._pinned["tables"]))
            manifest["tables"] = restored_tables
            new_version = manifest["version"] + 1
            manifest["version"] = new_version
            self.storage._cas_write_manifest(manifest, new_version - 1)
            # cached template memo may reference state the rollback
            # removed; re-checking is idempotent
            self._templated_uris.clear()
            return new_version

    def diff_versions(
        self,
        v_from: int,
        v_to: Optional[int] = None,
        uri: Optional[str] = None,
    ) -> list[dict]:
        """What changed between two retained manifest versions:
        [{document_uri, item_id, change, rev_from, rev_to}] with
        ``change`` ∈ {added, removed, changed}, sorted by (uri, item).
        ``v_to=None`` diffs against the CURRENT state; ``uri``
        restricts scope — it matches the document itself (for a
        collection document ``c~`` that means its items) and every
        document under ``uri/``. The review face of time travel —
        "what did that batch actually do" before a :meth:`restore_version`,
        or an incremental-export change list between two flips.

        Unchanged items never appear: equality is by revision, which
        bumps on every content write (gapless-revision invariant), so
        revision equality IS content equality.

        This is the driver-side admin path (reads both snapshots'
        content rows, dict-diff). At cluster scale, diff two
        :meth:`at_version` stores' ``collection_df`` frames with a
        full-outer join on (document_uri, item_id) instead — same
        semantics, executor-sized."""
        a = self.at_version(v_from)
        b = self.at_version(v_to) if v_to is not None else self

        def in_scope(duri: str) -> bool:
            return uri is None or duri == uri or duri.startswith(uri + "/")

        def live(store: "DocumentStore") -> dict:
            return {
                (r["document_uri"], r["item_id"]): r["revision"]
                for r in store.storage.all_rows(CONTENT)
                if not r["is_deleted"] and in_scope(r["document_uri"])
            }

        fa, fb = live(a), live(b)
        out: list[dict] = []
        for key in sorted(set(fa) | set(fb)):
            ra, rb = fa.get(key), fb.get(key)
            if ra == rb:
                continue
            out.append(
                {
                    "document_uri": key[0],
                    "item_id": key[1],
                    "change": "added" if ra is None else "removed" if rb is None else "changed",
                    "rev_from": ra,
                    "rev_to": rb,
                }
            )
        return out

    def compact_appends(self, min_files: int = 2) -> dict[str, int]:
        """Compact every append-only table holding ≥ ``min_files``
        append files (the feed and dead-letter logs grow one parquet
        per streaming batch) into one file each; returns
        {table: files merged}. See Storage.compact_append_table for the
        feed-readStream re-delivery caveat.

        The feed's merged file keeps the first replaced append key, so
        every transaction id still names the file holding its event
        (see :meth:`get_transaction`).

        It also folds the index deltas: every index table with pending
        delta files becomes one base file of its merged rows. Item
        writes fold a list on their own once it holds DELTA_MAX_FILES
        files (see _refresh_indexes), so this only clears the backlog
        early; index tables without deltas are not read. The fold is one
        pinned flip and is not counted in the returned dict; ``info()``'s
        ``bucket_segments`` shows the backlog it clears. Superseded
        files are reclaimed by the next :meth:`vacuum`."""
        with self._lock:
            out: dict[str, int] = {}
            for table, entry in self.storage._read_manifest()["tables"].items():
                if sum(1 for k in entry if k.startswith("a")) >= max(min_files, 2):
                    merged = self.storage.compact_append_table(table)
                    if merged:
                        out[table] = merged
            self._fold_appended()
            return out

    def _fold_appended(self) -> None:
        def fold():
            v0 = self.storage.current_version()
            updates, schemas = {}, {}
            for idef in self.index_defs():
                table = idef.storage_table
                if any(is_delta_file(p) for p in self.storage.bucket_files(table, 0)):
                    updates[(table, 0)] = self.storage.bucket_rows(table, 0)
                    schemas[table] = _index_schema(idef.sort_by)
            if updates:
                self.storage.commit(updates, schemas, expected_version=v0)

        self._admin_commit(fold)

    def truncate_feed(self, older_than_ms: int) -> int:
        """Feed retention — the embedded log's Kafka-topic-retention
        analog: drop published events with ``ts`` before the cutoff in
        one CAS flip (vacuum reclaims the superseded files subject to
        snapshot retention). Returns events removed. Consumers resuming
        from beyond the horizon must re-sync from a snapshot/at_version
        read, exactly as with an expired Kafka offset, and a dropped
        event's transaction id no longer resolves — the dead-letter
        log has the same shape and can be truncated the same way via
        ``Storage.replace_append_table``."""

        def attempt():
            # version read BEFORE the rows (review r12): the flip is
            # pinned on it, so an append landing anywhere in the
            # read-compute window conflicts and we recompute —
            # never strip a winner's a-key while dropping its rows.
            # (Reading it after would let an append slip between
            # the rows read and the version read and be erased.)
            v0 = self.storage.current_version()
            rows = self.storage.all_rows(FEED)
            # publication order, as compaction keeps it: the retained
            # file's row groups then prune on ts, which every
            # get_transaction lookup filters on
            keep = sorted(
                (r for r in rows if r["ts"] is not None and r["ts"] >= older_than_ms),
                key=lambda r: (r["ts"], r["document_uri"], r["revision"]),
            )
            removed = len(rows) - len(keep)
            if removed:
                self.storage.replace_append_table(FEED, keep, FEED_SCHEMA, expected_version=v0)
            return removed

        with self._lock:
            return self._retry_conflicts(attempt)

    def feed_events(self) -> list[dict]:
        """The published change feed, in publication order (Kafka-topic
        parity: at-least-once, revision-idempotent)."""
        return sorted(
            self.storage.all_rows(FEED),
            key=lambda f: (f["document_uri"], f["revision"]),
        )

    def feed_dir(self) -> str:
        """Directory of append-only feed files — a Structured Streaming
        file-source path (the local stand-in for the Kafka topic)."""
        import os

        d = self.storage.table_dir(FEED)
        os.makedirs(d, exist_ok=True)
        return d

    def feed_df(self):
        """The change feed as a DataFrame (the batch face of the Kafka
        topic; streaming face in hyper_storage_spark.streaming)."""
        return self.storage.spark_df_or_empty(self.spark, FEED, FEED_SPARK)
