"""Physical storage: hash-bucketed parquet datasets + an atomic manifest.

The reference keeps every collection in one Cassandra partition keyed by
``document_uri`` and spreads work over ``CRC32(uri) % 1024`` shard
partitions (db/scheme.cql:10, TransactionLogic.scala:26-30). Here the
same idea becomes: each logical table is N hash buckets of parquet; a
write rewrites only the touched buckets and flips ``manifest.json``
atomically (``os.replace``), so readers always see a consistent
snapshot — the same ACID role Delta's transaction log would play, with
zero dependencies.

A bucket is one file or a LIST of files read in order. Bulk paths
register lists of base files, and a commit's ``bucket_appends`` adds one
DELTA file (named ``delta-*``) to the end of a bucket's list instead of
rewriting the bucket. The item write path appends its index rows that
way, so most writes cost their own rows, not the index's: one row per
touched item — an upsert, or a tombstone (null ``revision``) for an
item that left the index. A bucket's list is then its BASE files
followed by ordered delta files, and every reader applies the one merge
rule, :func:`merge_delta`: a delta row replaces every earlier row with
its ``item_id``, and tombstones are dropped. :meth:`Storage.bucket_rows`
returns the merged table; a Spark scan reads only the base files
(:meth:`Storage.spark_df_and_delta` hands the caller the pending delta
to merge on the driver).

The document layer folds such a list back into one base file when it
reaches a fixed length (``DocumentStore.DELTA_MAX_FILES``), when an
index's delta rows outgrow their share of its base rows
(:meth:`Storage.bucket_shape` counts both without decoding a row), and
in ``compact_appends``.

Append-only tables (the change feed, the dead-letter log) are not
bucketed: each flip that appends registers one file under its own key
``a{version}``, and a rewrite of such files (compaction, retention)
keeps the first key it replaces, so the rows flip ``version`` appended
are always in the file under the greatest key not above ``version``
(:meth:`Storage.appended_rows`).

Every flip that registers bucket rows or files is one :meth:`Storage.commit`:
rows it writes itself, and files written before it (``files=``) — a
Spark frame staged by :meth:`Storage.stage_frame`, or bucket files that
executors wrote at :meth:`Storage.staged_bucket_file` paths. Those
staging names are made here only, each fresh (a uuid), and
:meth:`Storage.is_staged` recognises them, so vacuum can spare a file
whose writer has not flipped yet.

Scale note: bucket count is configurable (default 16 for local tests,
1024 at cluster scale to mirror the reference's shard constant); Spark
reads address the bucket *files* directly, so a single-document lookup
touches exactly one bucket and collection scans parallelize across
buckets.

Decoded-row cache: :meth:`Storage.bucket_rows` keeps the rows it
decoded, one entry per file keyed by the file's path, and a successful
:meth:`Storage.commit` keeps the rows it wrote in the form a re-read
returns them. Bucket files are immutable — every name carries a fresh
uuid, appends are staged under a tmp name and renamed, and nothing ever
rewrites a path — so rows remembered for a path are that file's content
for as long as the file exists. Every read still reads the manifest
first and takes from memory the files it names: a foreign process's
commit, a rollback or a vacuum changes the paths, never a path's
content, so a cached entry can be missed but never be stale. Filtered
(point) reads of base files skip the cache and keep parquet row-group
pruning.
"""

from __future__ import annotations

# fcntl at import time, deliberately: the manifest flip lock is kernel
# flock (auto-released on holder death — no staleness heuristic to
# race on), which makes this storage layer POSIX-only. Failing here is
# clearer than a ModuleNotFoundError deep inside the first commit.
import fcntl
import json
import os
import re
import threading as _threading
import time
import uuid
import zlib
from collections import OrderedDict
from decimal import Decimal
from operator import itemgetter
from typing import Any, Callable, Iterable, Optional

import pyarrow as pa
import pyarrow.parquet as pq


class ManifestConflict(RuntimeError):
    """The manifest version moved between a writer's read and its flip
    — another process committed concurrently. The losing writer's flip
    is REFUSED (its staged data is untouched on disk); the caller must
    re-read and re-apply, or give up. This is the cross-process fence:
    within one process the DocumentStore lock already serializes."""


def bucket_of(key: str, n_buckets: int) -> int:
    """CRC32(key) % n — the reference's partitionFromUri
    (TransactionLogic.scala:26-30) with configurable modulus."""
    return zlib.crc32(key.encode("utf-8")) % n_buckets


def _sanitize(name: str) -> str:
    return re.sub(r"[^A-Za-z0-9_.\-]", "_", name)


def write_bucket_file(rows: list[dict], schema: pa.Schema, abspath: str) -> list[dict]:
    """THE bucket-file writer — every path that materializes a bucket
    (driver commits AND executor-staged streaming files) goes through
    it, so the key-sort + bounded row groups that make point-read
    row-group pruning selective hold for every bucket on disk. Returns
    the rows in the order they were written."""
    key = [k for k in ("document_uri", "item_id") if k in schema.names]
    if len(key) == 2:
        rows = sorted(rows, key=lambda r: (r.get("document_uri") or "", r.get("item_id") or ""))
    elif key:
        (k,) = key
        rows = sorted(rows, key=lambda r: r.get(k) or "")
    os.makedirs(os.path.dirname(abspath), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), abspath, row_group_size=ROW_GROUP_SIZE)
    return rows


# name prefix of every file or directory written before the flip that
# registers it (Storage.stage_frame, Storage.staged_bucket_file)
_STAGED = "staged-"

# name prefix of every file a commit's ``bucket_appends`` writes
_DELTA_PREFIX = "delta-"


def is_delta_file(path: str) -> bool:
    return os.path.basename(path).startswith(_DELTA_PREFIX)


def delta_of(files: Iterable[list[dict]]) -> dict[str, dict]:
    """``item_id`` → the newest row for it across delta files' rows,
    given in list order."""
    out: dict[str, dict] = {}
    for rows in files:
        for r in rows:
            out[r["item_id"]] = r
    return out


def merge_delta(base: Iterable, delta: dict[str, dict], keep: Optional[Callable[[dict], bool]] = None) -> list:
    """THE merge rule of a delta-written table, used by every reader: a
    delta row (``delta`` as :func:`delta_of` builds it) replaces every
    base row with its ``item_id``; tombstones (``revision`` None) are
    dropped, and so are live delta rows failing ``keep`` when it is
    given. Base rows may be dicts or Spark Rows."""
    out = [r for r in base if r["item_id"] not in delta]
    out.extend(r for r in delta.values() if r["revision"] is not None and (keep is None or keep(r)))
    return out


_FILTER_OPS = {
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "in": lambda a, b: a in b,
    "not in": lambda a, b: a not in b,
    ">=": lambda a, b: a is not None and a >= b,
    "<=": lambda a, b: a is not None and a <= b,
    ">": lambda a, b: a is not None and a > b,
    "<": lambda a, b: a is not None and a < b,
}


def _row_filter(filters: list) -> Callable[[dict], bool]:
    """pyarrow DNF conjunction ``filters`` as a predicate on one row
    held in memory."""
    return lambda r: all(_FILTER_OPS[op](r.get(col), val) for col, op, val in filters)


# arrow types whose to_pylist value is exactly one Python type
_PLAIN_TYPES = {
    pa.string(): str,
    pa.int64(): int,
    pa.int32(): int,
    pa.bool_(): bool,
    pa.float64(): float,
}


def _read_form(arrow_type: pa.DataType) -> Callable[[Any], bool]:
    """Predicate: is a non-null value already what ``to_pylist`` returns
    for a column of ``arrow_type``? False for types it does not know,
    which then always go through arrow."""
    plain = _PLAIN_TYPES.get(arrow_type)
    if plain is not None:
        return lambda v: type(v) is plain
    if pa.types.is_decimal(arrow_type):
        quantum = Decimal(1).scaleb(-arrow_type.scale)
        # at the column scale already; arrow never returns a negative zero
        return lambda v: type(v) is Decimal and v.same_quantum(quantum) and (v or not v.is_signed())
    return lambda v: False


def _rows_as_read(rows: list[dict], schema: pa.Schema) -> list[dict]:
    """New dicts holding ``rows`` exactly as ``pq.read_table(path)
    .to_pylist()`` returns them after :func:`write_bucket_file` wrote
    them with ``schema``: keys in schema order, absent keys as None,
    every value converted the way arrow converts it (decimals quantized
    to the column scale, ints in a float column as floats, ...). Values
    already in that form — every row that came from the read cache —
    are kept as they are; only the others go through arrow, one value
    at a time, which is the conversion the write itself made. When
    every row already is in read form it is copied as it is, which is
    the common case for a bucket rewrite and avoids rebuilding dicts."""
    names = tuple(schema.names)
    if not rows:
        return []
    values = None
    if len(names) > 1:  # itemgetter of a single name returns a bare value
        try:
            values = list(map(itemgetter(*names), rows))
        except KeyError:  # a row lacks a column, which the write stored as null
            pass
    if values is None:
        values = [tuple(r.get(n) for n in names) for r in rows]
    cols = list(zip(*values))
    fixed = False
    for j, field in enumerate(schema):
        plain = _PLAIN_TYPES.get(field.type)
        if plain is not None and set(map(type, cols[j])) <= {plain, type(None)}:
            continue
        ok = _read_form(field.type)
        col = cols[j] = list(cols[j])
        bad = [i for i, v in enumerate(col) if v is not None and not ok(v)]
        if bad:
            for i, v in zip(bad, pa.array([col[i] for i in bad], type=field.type).to_pylist()):
                col[i] = v
            fixed = True
    if fixed:
        values = zip(*cols)
    elif set(map(tuple, rows)) == {names}:
        return list(map(dict, rows))
    return [dict(zip(names, v)) for v in values]


class _RowCache:
    """Decoded rows of bucket files, one entry per immutable file path
    (see the module docstring for why such an entry can never be
    stale). The file list last seen for each (table, bucket) is kept
    too: a newer list drops the entries of the files it no longer
    names, which only a time-travel view reads again, and that view has
    a cache of its own. Least-recently-used entries are evicted once
    the cached rows exceed ``cap_rows``. Entries are never mutated:
    readers copy what they hand out. A lookup of a bucket's files
    counts one hit when every file is in memory, else one miss. One
    lock guards the bookkeeping, since a streaming micro-batch thread
    and a user thread may share a Storage."""

    def __init__(self, cap_rows: int):
        self.cap_rows = cap_rows
        self._lock = _threading.Lock()
        self._entries: OrderedDict[str, list[dict]] = OrderedDict()
        self._lists: dict[tuple[str, int], tuple[str, ...]] = {}
        self.rows = 0
        self.hits = 0
        self.misses = 0

    def _supersede(self, key: tuple[str, int], rels: tuple[str, ...]) -> None:
        old = self._lists.get(key, ())
        if old != rels:
            for rel in set(old).difference(rels):
                rows = self._entries.pop(rel, None)
                if rows is not None:
                    self.rows -= len(rows)
            self._lists[key] = rels

    def supersede(self, key: tuple[str, int], rels: tuple[str, ...]) -> None:
        """The bucket ``key`` now lists ``rels`` (a successful flip)."""
        with self._lock:
            self._supersede(key, rels)

    def lookup(
        self, key: tuple[str, int], rels: tuple[str, ...], wanted: tuple[str, ...]
    ) -> dict[str, Optional[list[dict]]]:
        """Bucket ``key`` lists ``rels``: the cached rows of each of its
        files in ``wanted``, None where not cached."""
        with self._lock:
            self._supersede(key, rels)
            found = {}
            for rel in wanted:
                rows = found[rel] = self._entries.get(rel)
                if rows is not None:
                    self._entries.move_to_end(rel)
            if None in found.values():
                self.misses += 1
            else:
                self.hits += 1
        return found

    def peek(self, rel: str) -> Optional[list[dict]]:
        """The cached rows of one path, or None; not counted, not touched."""
        with self._lock:
            return self._entries.get(rel)

    def put(self, rel: str, rows: list[dict]) -> None:
        with self._lock:
            old = self._entries.pop(rel, None)
            if old is not None:
                self.rows -= len(old)
            if len(rows) > self.cap_rows:
                return
            self._entries[rel] = rows
            self.rows += len(rows)
            while self.rows > self.cap_rows:
                _, evicted = self._entries.popitem(last=False)
                self.rows -= len(evicted)

    def stats(self) -> dict:
        with self._lock:
            return {
                "hits": self.hits,
                "misses": self.misses,
                "rows": self.rows,
                "files": len(self._entries),
                "cap_rows": self.cap_rows,
            }


# At cluster scale, size the bucket modulus like the reference's shard
# constant (1024, TransactionLogic.scala:26-30): with ≥256 buckets a
# point operation's bucket is a small fraction of the table, and the
# row-group pruning below narrows it to one row group.
CLUSTER_N_BUCKETS = 1024

# bounded row groups + key-sorted bucket files ⇒ selective min/max
# stats ⇒ point reads decode one row group
ROW_GROUP_SIZE = 8192


class Storage:
    """Versioned, bucketed parquet tables under one root directory."""

    # decoded-row cache bound, in rows across all cached buckets: it
    # holds the buckets a write path keeps re-reading (a collection's
    # content and statics buckets, its index tables), and keeps a pass
    # over many buckets, such as the fold of compact_appends, from
    # pinning them all in memory
    READ_CACHE_ROWS = 100_000

    def __init__(self, root: str, n_buckets: Optional[int] = None):
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        self._manifest_path = os.path.join(root, "manifest.json")
        # the manifest's recorded modulus is AUTHORITATIVE on reopen
        # (review r12): bucket_of(uri, wrong_n) silently routes every
        # read and write to the wrong bucket — point GETs miss
        # committed items, new writes fork divergent state. None
        # (the default) adopts the recorded value; an explicit
        # mismatching value is a hard error, never a silent rebucket.
        if os.path.exists(self._manifest_path):
            recorded = int(self._read_manifest().get("n_buckets", 16))
            if n_buckets is not None and n_buckets != recorded:
                raise ValueError(
                    f"store at {root!r} was created with n_buckets="
                    f"{recorded}, reopened with {n_buckets} — the bucket "
                    "modulus is immutable for the life of a store"
                )
            self.n_buckets = recorded
        else:
            self.n_buckets = 16 if n_buckets is None else n_buckets
        # reentrant flock state for write_lock()/_cas_write_manifest —
        # per-(instance, THREAD) ownership: only the holding thread
        # re-enters via the depth counter; any other thread (e.g. a
        # Structured Streaming micro-batch thread appending the feed
        # while a user thread holds a write window on the same
        # instance) opens its OWN fd and serializes through the kernel
        # exactly like a foreign process would
        self._flock_fd: Optional[int] = None
        self._flock_depth = 0
        self._flock_owner: Optional[int] = None
        self._flock_mutex = _threading.Lock()
        self._row_cache = _RowCache(self.READ_CACHE_ROWS)
        if not os.path.exists(self._manifest_path):
            self._write_manifest(
                {"version": 0, "n_buckets": self.n_buckets, "tables": {}}
            )

    # -- manifest -----------------------------------------------------------

    def _read_manifest(self) -> dict:
        with open(self._manifest_path) as f:
            return json.load(f)

    # snapshot retention: every flip also writes manifests/v{N}.json,
    # enabling time-travel reads (snapshot()/DocumentStore.at_version)
    # back this many versions. Older snapshot manifests are pruned at
    # flip time; their bucket files become vacuum-reclaimable once no
    # retained manifest references them.
    SNAPSHOT_KEEP = 32

    def _snapshot_dir(self) -> str:
        return os.path.join(self.root, "manifests")

    def _write_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path)
        # snapshot the flipped version for time travel (same content,
        # immutable name), then prune beyond the retention window
        snapdir = self._snapshot_dir()
        os.makedirs(snapdir, exist_ok=True)
        snap = os.path.join(snapdir, f"v{manifest['version']:08d}.json")
        stmp = snap + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(stmp, "w") as f:
            json.dump(manifest, f)
        os.replace(stmp, snap)
        # NUMERIC sort (review r12): %08d pads, never truncates — past
        # version 99,999,999 a lexical sort would rank the newest
        # snapshot FIRST and prune the fresh window instead of the old
        kept = sorted(
            (n for n in os.listdir(snapdir) if n.startswith("v") and n.endswith(".json")),
            key=lambda n: int(n[1:-5]),
        )
        for name in kept[: -self.SNAPSHOT_KEEP]:
            try:
                os.remove(os.path.join(snapdir, name))
            except OSError:  # pragma: no cover — pruned by a peer
                pass

    def versions(self) -> list[int]:
        """Snapshot versions still available for time-travel reads."""
        try:
            names = os.listdir(self._snapshot_dir())
        except OSError:
            return []
        return sorted(
            int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
        )

    def snapshot(self, version: int) -> "SnapshotStorage":
        """A read-only Storage view pinned to a historical manifest
        version (raises if the version was never written or aged out
        of the retention window)."""
        return SnapshotStorage(self, version)

    # how long a writer waits for the flip lock. Since r7 the lock can
    # be held across a WHOLE per-item write window (staging reads +
    # flip + completion — typically a few ms of local parquet I/O, tens
    # of ms for large batches), not just the ms-scale CAS, so the
    # timeout budgets many queued windows, and write-path callers that
    # hit it retry with backoff rather than failing outright
    LOCK_TIMEOUT_S = 10.0

    def _cas_write_manifest(self, manifest: dict, expected_version: int) -> None:
        """Compare-and-swap flip: atomically replace the manifest ONLY
        if its on-disk version still equals ``expected_version``.

        Every read-modify-write commit path routes through this, so two
        processes on one store root can no longer lose a flip: the
        second writer's commit raises :class:`ManifestConflict` instead
        of silently overwriting the first's. The check-and-rename pair
        is serialized by ``flock`` on a persistent lock file — the
        kernel releases the lock when the holder dies, so there is no
        staleness heuristic to race on (the previous mtime-based
        break had a TOCTOU: a breaker that stat'ed an old lock could
        rename away a FRESH lock a faster breaker had just re-created,
        letting two writers into the critical section)."""
        self._acquire_flock()
        try:
            current = self._read_manifest()["version"]
            if current != expected_version:
                raise ManifestConflict(
                    f"manifest version moved: expected {expected_version}, found {current}"
                )
            self._write_manifest(manifest)
        finally:
            self._release_flock()

    def _acquire_flock(self) -> None:
        """Take (or re-enter) the exclusive manifest flock.

        Reentrancy is per-(instance, thread): only the thread that
        holds the lock may re-enter via the depth counter (write_lock
        windows nest their inner CAS flips). ANY other thread — even
        on the same instance, e.g. a streaming micro-batch thread
        flipping the feed while a user thread holds a write window —
        opens its own fd and blocks in the kernel like a foreign
        process; a naive per-instance depth counter here would let it
        straight into the critical section (lost flips between
        threads of one process)."""
        me = _threading.get_ident()
        with self._flock_mutex:
            if self._flock_owner == me:
                self._flock_depth += 1
                return
        lockp = self._manifest_path + ".lock"
        deadline = time.time() + self.LOCK_TIMEOUT_S
        fd = os.open(lockp, os.O_CREAT | os.O_WRONLY)
        try:
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except (BlockingIOError, InterruptedError):
                    # contention (EWOULDBLOCK) or a signal (EINTR):
                    # retry until the deadline. Any OTHER OSError
                    # (ENOLCK on NFS without a lock manager,
                    # EOPNOTSUPP on exotic mounts) is a real fault and
                    # must surface as itself — spinning on it and
                    # reporting "lock contention" would bury the cause
                    if time.time() > deadline:
                        raise ManifestConflict(
                            f"timed out waiting for manifest lock {lockp}"
                        )
                    time.sleep(0.002)
        except BaseException:
            os.close(fd)
            raise
        with self._flock_mutex:
            self._flock_fd = fd
            self._flock_depth = 1
            self._flock_owner = me

    def _release_flock(self) -> None:
        with self._flock_mutex:
            self._flock_depth -= 1
            if self._flock_depth == 0 and self._flock_fd is not None:
                # closing the fd releases the flock; the lock FILE
                # persists (it is the lock's identity, not its state)
                os.close(self._flock_fd)
                self._flock_fd = None
                self._flock_owner = None

    def write_lock(self):
        """Context manager holding the manifest flock across a WHOLE
        read-stage-flip window (not just the CAS) — the pessimistic
        path for writers whose staging work is cheap relative to the
        cost of losing the optimistic race. Per-item writes use this:
        under sustained multi-process contention the optimistic loser
        restarts a wide staging window against winners who only need
        the ms-scale CAS, which starves it (observed: 24 jittered
        retries exhausted with three tight-loop writers); holding the
        lock serializes the writers fairly, which is what single-
        writer-per-document semantics require anyway. Reentrant with
        _cas_write_manifest, so commits inside the block don't
        self-deadlock. Storages without a manifest (overlays) return a
        no-op."""
        import contextlib

        @contextlib.contextmanager
        def _held():
            self._acquire_flock()
            try:
                yield
            finally:
                self._release_flock()

        return _held()

    # -- reads --------------------------------------------------------------

    def _bucket_rels(self, table: str, bucket: int, manifest: Optional[dict] = None) -> tuple[str, ...]:
        if manifest is None:
            manifest = self._read_manifest()
        rel = manifest["tables"].get(table, {}).get(str(bucket))
        if rel is None:
            return ()
        return tuple(rel) if isinstance(rel, list) else (rel,)

    def _file_rows(
        self, key: tuple[str, int], rels: tuple[str, ...], wanted: Optional[tuple[str, ...]] = None
    ) -> dict[str, list[dict]]:
        """The decoded rows of the files ``wanted`` (default: all) of
        bucket ``key``, whose list is ``rels``, from the cache where it
        holds them (shared lists: copy before handing out)."""
        found = self._row_cache.lookup(key, rels, rels if wanted is None else wanted)
        for rel, rows in found.items():
            if rows is None:
                found[rel] = pq.read_table(os.path.join(self.root, rel)).to_pylist()
                self._row_cache.put(rel, found[rel])
        return found

    def bucket_rows(self, table: str, bucket: int, filters: Optional[list] = None) -> list[dict]:
        """Rows of one bucket, pending deltas merged (:func:`merge_delta`);
        ``filters`` (pyarrow DNF tuples, e.g.
        ``[("document_uri", "==", uri)]``) push the predicate into the
        parquet read of the base files — row groups whose min/max stats
        exclude the key are never decoded, so a point GET reads one row
        group instead of materializing the whole bucket (commit() writes
        buckets sorted by key with bounded row groups to make the stats
        selective).

        An unfiltered read takes every file the manifest names from the
        decoded-row cache where it can (see the module docstring); the
        caller always gets dicts of its own to mutate."""
        rels = self._bucket_rels(table, bucket)
        deltas = tuple(r for r in rels if is_delta_file(r))
        if not filters:
            files = self._file_rows((table, bucket), rels)
            rows = [r for rel in rels if rel not in deltas for r in files[rel]]
            if deltas:
                rows = merge_delta(rows, delta_of(files[rel] for rel in deltas))
            return [dict(r) for r in rows]
        out: list[dict] = []
        for r in rels:
            if r not in deltas:
                out.extend(pq.read_table(os.path.join(self.root, r), filters=filters).to_pylist())
        if deltas:
            files = self._file_rows((table, bucket), rels, deltas)
            out = merge_delta(out, delta_of(files[rel] for rel in deltas), _row_filter(filters))
        return [dict(r) for r in out] if deltas else out

    def read_cache_stats(self) -> dict:
        """Decoded-row cache counters: bucket reads served wholly from
        memory (hits) and partly from parquet (misses), rows and files
        held, and the row cap."""
        return self._row_cache.stats()

    def bucket_shape(self, table: str, bucket: int) -> tuple[int, int, int]:
        """(files in the bucket's list, rows of its base files, rows of
        its delta files), raw rows before the merge, counted from cached
        rows or parquet footers, so no row is decoded."""
        rels = self._bucket_rels(table, bucket)
        rows = [0, 0]
        for rel in rels:
            held = self._row_cache.peek(rel)
            n = len(held) if held is not None else pq.read_metadata(os.path.join(self.root, rel)).num_rows
            rows[is_delta_file(rel)] += n
        return len(rels), rows[0], rows[1]

    def bucket_files(self, table: str, bucket: int) -> list[str]:
        """Every file of the bucket's list, base and delta."""
        return [os.path.join(self.root, r) for r in self._bucket_rels(table, bucket)]

    def files(self, table: str) -> list[str]:
        """Every file of the table, base and delta (for a delta-written
        table, raw rows: use :meth:`bucket_rows` for the merged table)."""
        manifest = self._read_manifest()
        out: list[str] = []
        for rel in manifest["tables"].get(table, {}).values():
            for r in rel if isinstance(rel, list) else [rel]:
                out.append(os.path.join(self.root, r))
        return out

    def set_meta(self, key: str, value) -> int:
        """Commit one manifest-metadata entry (its own flip)."""
        return self.commit({}, {}, meta={key: value})

    def get_meta(self, key: str, default=None):
        return self._read_manifest().get("meta", {}).get(key, default)

    def tables(self) -> list[str]:
        return list(self._read_manifest()["tables"].keys())

    # -- writes -------------------------------------------------------------

    def current_version(self) -> Optional[int]:
        """Manifest version for optimistic-concurrency pinning; None
        for storages without one (overlays)."""
        return self._read_manifest()["version"]

    def commit(
        self,
        updates: dict[tuple[str, int], list[dict]],
        schemas: dict[str, pa.Schema],
        drop_tables: Iterable[str] = (),
        expected_version: Optional[int] = None,
        appends: Optional[dict[str, tuple[list[dict], pa.Schema]]] = None,
        bucket_appends: Optional[dict[tuple[str, int], list[dict]]] = None,
        files: Optional[dict[str, dict[int, list[str]]]] = None,
        meta: Optional[dict] = None,
    ) -> int:
        """Atomically replace the given (table, bucket) datasets (and/or
        drop whole tables). One manifest flip = one commit, and the one
        flip for bucket rows and files (append-only tables keep their
        own retrying :meth:`append`).

        ``expected_version`` pins the WHOLE read-stage-flip window:
        callers that computed ``updates`` from reads taken at that
        version pass it, and the commit refuses if ANY flip (ours or a
        foreign process's) landed since — without it the CAS only
        guards commit's own read-to-flip gap, and a foreign flip
        between the caller's reads and this call would be silently
        overwritten by the stale full-bucket rewrite.

        ``appends`` (r7) registers append-only rows (e.g. feed events)
        in the SAME flip as the updates — atomic with them, where a
        separate :meth:`append` call would cost a second CAS round trip
        AND leave a crash window between publication and the state it
        marks. The file is written before the flip, so directory-based
        readers (the streaming file-source face) may glimpse it even if
        the flip then loses — the documented at-least-once floor for
        that face; manifest-based readers get exact atomicity.

        ``bucket_appends`` adds rows to a bucket without rewriting it:
        each (table, bucket) gets ONE new delta file (schema
        ``schemas[table]``, which has ``item_id`` and ``revision``
        columns) at the end of its file list, in the same flip. This is
        how an index grows by a write's delta rows; the bucket's older
        files stay as they are until a caller rewrites the bucket
        through ``updates`` (which replaces the whole list).

        ``files`` registers parquet files written before the flip — a
        Spark frame staged by :meth:`stage_frame`, or bucket files an
        executor wrote at :meth:`staged_bucket_file` — as the whole new
        list of each (table, bucket) it names. ``meta`` entries ride in
        the same flip (e.g. a streaming batch watermark, which must be
        atomic with the data it marks). Drops apply before everything
        else, so a drop-and-recreate in one commit keeps the recreated
        content. A refused flip registers none of it."""
        manifest = self._read_manifest()
        if expected_version is not None and manifest["version"] != expected_version:
            raise ManifestConflict(
                f"manifest version moved since staging reads: expected "
                f"{expected_version}, found {manifest['version']}"
            )
        version = manifest["version"] + 1
        # (table, bucket) → its new file list, for the cache after the flip
        lists: dict[tuple[str, int], tuple[str, ...]] = {}
        for table in drop_tables:  # drops first: drop-and-recreate keeps the recreate
            for key in manifest["tables"].pop(table, {}):
                if not key.startswith("a"):
                    lists[(table, int(key))] = ()
        written: dict[str, list[dict]] = {}  # path → rows as a re-read returns them

        def write(table: str, bucket: int, rows: list[dict], prefix: str = "") -> str:
            # uuid suffix: two PROCESSES racing at the same version must
            # not write the same path — the CAS flip rejects the loser,
            # but only if the winner's file wasn't overwritten first
            rel = os.path.join(
                "data",
                _sanitize(table),
                f"{prefix}b{bucket:04d}-v{version:08d}-{uuid.uuid4().hex[:6]}.parquet",
            )
            rows = write_bucket_file(rows, schemas[table], os.path.join(self.root, rel))
            written[rel] = _rows_as_read(rows, schemas[table])
            return rel

        for (table, bucket), rows in updates.items():
            rel = write(table, bucket, rows)
            manifest["tables"].setdefault(table, {})[str(bucket)] = rel
            lists[(table, bucket)] = (rel,)
        for table, buckets in (files or {}).items():
            for bucket, paths in buckets.items():
                rels = tuple(os.path.relpath(p, self.root) for p in paths)
                manifest["tables"].setdefault(table, {})[str(bucket)] = list(rels)
                lists[(table, bucket)] = rels
        for (table, bucket), rows in (bucket_appends or {}).items():
            rels = (*self._bucket_rels(table, bucket, manifest), write(table, bucket, rows, _DELTA_PREFIX))
            manifest["tables"].setdefault(table, {})[str(bucket)] = list(rels)
            lists[(table, bucket)] = rels
        for table, (rows, schema) in (appends or {}).items():
            manifest["tables"].setdefault(table, {})[f"a{version}"] = self._stage_append(
                table, rows, schema
            )
        if meta:
            manifest.setdefault("meta", {}).update(meta)
        manifest["version"] = version
        self._cas_write_manifest(manifest, version - 1)
        # only a flip that won may seed the cache: a loser's files are
        # never named by any manifest
        for key, rels in lists.items():
            self._row_cache.supersede(key, rels)
        for rel, rows in written.items():
            self._row_cache.put(rel, rows)
        return version

    def _stage_append(self, table: str, rows: list[dict], schema: pa.Schema) -> str:
        """Write one append-only file of ``table`` and return its path
        relative to the root, for the caller's flip to register."""
        rel = os.path.join(
            "data", _sanitize(table), f"append-{uuid.uuid4().hex[:12]}.parquet"
        )
        abspath = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(abspath), exist_ok=True)
        # tmp + rename: append-only tables double as Structured
        # Streaming file-source dirs (the feed) — a reader listing the
        # directory mid-write would see a footerless parquet and die
        tmp = abspath + f".tmp.{uuid.uuid4().hex[:8]}"
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
        os.replace(tmp, abspath)
        return rel

    # bounded CAS retry for append-only commit paths: losing the flip
    # race there never invalidates the staged content (re-reading the
    # fresh manifest and re-registering is always safe), so a legitimate
    # concurrent appender shouldn't fail. Read-modify-write commits
    # (commit / replace_append_table) keep fail-fast — their content
    # was computed against the PRE-flip state and replaying it could
    # drop the winner's changes.
    APPEND_CAS_RETRIES = 8

    def append(self, table: str, rows: list[dict], schema: pa.Schema) -> int:
        """Append-only tables (e.g. the change feed): each commit adds a
        new file and never rewrites old ones — exactly the shape a
        Structured Streaming file source expects (new files = new data).

        A lost CAS race re-reads the fresh manifest and re-registers the
        already-staged file under the next version key (bounded retries)
        — two concurrent appenders both land, neither fails."""
        rel = self._stage_append(table, rows, schema)
        for attempt in range(self.APPEND_CAS_RETRIES):
            manifest = self._read_manifest()
            version = manifest["version"] + 1
            manifest["tables"].setdefault(table, {})[f"a{version}"] = rel
            manifest["version"] = version
            try:
                self._cas_write_manifest(manifest, version - 1)
                return version
            except ManifestConflict:
                if attempt == self.APPEND_CAS_RETRIES - 1:
                    raise
        raise AssertionError("unreachable")  # pragma: no cover

    def compact_append_table(self, table: str) -> int:
        """Merge an append-only table's accumulated files into ONE file
        (row order preserved — append key order is publication order)
        and flip the manifest once. Returns the number of files merged
        away (0 = nothing to do).

        At streaming scale the feed/dead-letter tables grow one parquet
        per micro-batch append; listings and readers degrade with file
        count long before data size matters. Compaction bounds that.
        Superseded files stay on disk until :meth:`DocumentStore.vacuum`
        reclaims them (readers of the OLD manifest snapshot stay
        consistent meanwhile). Caveat for the streaming FACE of the
        feed (a file-source over the table directory, not the
        manifest): the compacted file is new-by-name, so a tailing
        readStream re-delivers its events — harmless under the feed's
        at-least-once contract (consumers dedup by (uri, revision)),
        but schedule compaction accordingly.

        A lost CAS race recomputes from the FRESH manifest (re-reading
        whatever append files exist then) and retries — safe because
        nothing here depends on pre-flip state; a concurrent appender's
        new file simply joins the merge or stays a later key."""
        for attempt in range(self.APPEND_CAS_RETRIES):
            manifest = self._read_manifest()
            entry = manifest["tables"].get(table, {})
            append_keys = [k for k in entry if k.startswith("a")]
            if len(append_keys) <= 1:
                return 0
            ordered = sorted(append_keys, key=lambda k: int(k[1:]))
            tables: list[pa.Table] = []
            for k in ordered:
                rel = entry[k]
                for r in rel if isinstance(rel, list) else [rel]:
                    # every append file of a table shares the schema its
                    # Storage.append writes — plain concat is exact
                    tables.append(pq.read_table(os.path.join(self.root, r)))
            merged = pa.concat_tables(tables)
            version = manifest["version"] + 1
            rel = os.path.join(
                "data", _sanitize(table), f"compact-v{version:08d}-{uuid.uuid4().hex[:6]}.parquet"
            )
            abspath = os.path.join(self.root, rel)
            os.makedirs(os.path.dirname(abspath), exist_ok=True)
            tmp = abspath + f".tmp.{uuid.uuid4().hex[:8]}"
            pq.write_table(merged, tmp, row_group_size=ROW_GROUP_SIZE)
            os.replace(tmp, abspath)
            # the merged file takes the FIRST key's slot so later appends
            # (higher a{version} keys) keep sorting after it
            new_entry = {k: v for k, v in entry.items() if k not in append_keys}
            new_entry[ordered[0]] = rel
            manifest["tables"][table] = new_entry
            manifest["version"] = version
            try:
                self._cas_write_manifest(manifest, version - 1)
                return len(append_keys)
            except ManifestConflict:
                # loser's merged file becomes an orphan; vacuum reclaims
                if attempt == self.APPEND_CAS_RETRIES - 1:
                    raise
        raise AssertionError("unreachable")  # pragma: no cover

    def replace_append_table(
        self,
        table: str,
        rows: list[dict],
        schema: pa.Schema,
        expected_version: Optional[int] = None,
    ) -> int:
        """Swap an append-only table's ENTIRE content for ``rows`` in
        one CAS flip (retention truncation; compaction's backstop).
        The new file takes the table's first append key (``a{version}``
        when it has none), as compact_append_table's does, so every
        kept row stays under the greatest key not above the flip that
        appended it (:meth:`appended_rows`) and later appends keep
        sorting after it.

        ``expected_version`` pins the flip on the manifest version the
        caller's read began at (review r12): without it, an append
        landing between the caller's table read and this flip has its
        a-key stripped here while its rows are absent from ``rows`` —
        the winner's events silently erased, exactly the lost update
        the class comment forbids for read-modify-write commits.
        Callers own the retry: re-read, recompute, re-call."""
        manifest = self._read_manifest()
        if expected_version is not None and manifest["version"] != expected_version:
            raise ManifestConflict(
                f"{table}: manifest moved to v{manifest['version']} since the "
                f"replacement was computed at v{expected_version}"
            )
        version = manifest["version"] + 1
        rel = os.path.join(
            "data", _sanitize(table), f"retain-v{version:08d}-{uuid.uuid4().hex[:6]}.parquet"
        )
        abspath = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(abspath), exist_ok=True)
        tmp = abspath + f".tmp.{uuid.uuid4().hex[:8]}"
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp, row_group_size=ROW_GROUP_SIZE)
        os.replace(tmp, abspath)
        entry = manifest["tables"].get(table, {})
        first = min((int(k[1:]) for k in entry if k.startswith("a")), default=version)
        manifest["tables"][table] = {
            **{k: v for k, v in entry.items() if not k.startswith("a")},
            f"a{first}": rel,
        }
        manifest["version"] = version
        self._cas_write_manifest(manifest, version - 1)
        return version

    def appended_rows(self, table: str, version: int, filters: list) -> list[dict]:
        """Rows of append-only ``table`` matching ``filters`` (pyarrow DNF,
        pushed into the scan), read from the one file that holds the
        rows flip ``version`` appended: the file under the greatest
        append key not above ``version`` (see the module docstring).
        One manifest read and at most one file read; [] when the table
        has no key that old."""
        entry = self._read_manifest()["tables"].get(table, {})
        keys = [int(k[1:]) for k in entry if k.startswith("a") and int(k[1:]) <= version]
        if not keys:
            return []
        return pq.read_table(os.path.join(self.root, entry[f"a{max(keys)}"]), filters=filters).to_pylist()

    def all_rows(self, table: str) -> list[dict]:
        out: list[dict] = []
        for f in self.files(table):
            out.extend(pq.read_table(f).to_pylist())
        return out

    def table_dir(self, table: str) -> str:
        return os.path.join(self.root, "data", _sanitize(table))

    # -- staging: files on disk before the flip that registers them ---------

    def stage_frame(self, df, table: str) -> list[str]:
        """Write a Spark frame into a fresh staging directory of
        ``table`` and return its parquet files, for a later
        :meth:`commit` ``files=`` to register. The directory is new on
        every call, so staging never overwrites a file that a manifest,
        a retained snapshot or a lazy frame over committed files still
        reads."""
        outdir = os.path.join(self.table_dir(table), f"{_STAGED}{uuid.uuid4().hex[:12]}")
        df.write.parquet(outdir)
        return sorted(os.path.join(outdir, f) for f in os.listdir(outdir) if f.endswith(".parquet"))

    def staged_bucket_file(self, table: str, bucket: int) -> str:
        """A fresh path for one bucket file that an executor writes
        (:func:`write_bucket_file`) for the driver's flip to register."""
        return os.path.join(self.table_dir(table), f"{_STAGED}b{bucket:04d}-{uuid.uuid4().hex[:12]}.parquet")

    def is_staged(self, path: str) -> bool:
        """Was the file at ``path`` named by :meth:`stage_frame` or
        :meth:`staged_bucket_file`? Such a file exists before its flip,
        so vacuum must not take it for garbage while a writer (maybe
        another process) is still between the two. Only names below the
        table's directory count: a table's own name never marks it."""
        parts = os.path.relpath(path, os.path.join(self.root, "data")).split(os.sep)
        return any(p.startswith(_STAGED) for p in parts[1:])

    def spark_df_or_empty(self, spark, table: str, spark_schema: str):
        """A frame over the table's BASE files (an empty frame when it
        has none): a delta-written table's pending delta is not in it
        (see :meth:`spark_df_and_delta`)."""
        return self.spark_df_and_delta(spark, table, spark_schema)[0]

    def spark_df_and_delta(self, spark, table: str, spark_schema: str):
        """From ONE manifest read: a frame over the table's base files
        and its pending delta (``item_id`` → newest delta row, every
        bucket's delta files in list order), which the caller merges
        with :func:`merge_delta`. The delta rows come from the decoded-
        row cache; they are copies, and no base row is read here."""
        base: list[str] = []
        delta: dict[str, dict] = {}
        for key, rel in self._read_manifest()["tables"].get(table, {}).items():
            rels = tuple(rel) if isinstance(rel, list) else (rel,)
            deltas = tuple(r for r in rels if is_delta_file(r))
            base.extend(r for r in rels if r not in deltas)
            if deltas:
                files = self._file_rows((table, int(key)), rels, deltas)
                delta.update(delta_of(files[r] for r in deltas))
        delta = {k: dict(v) for k, v in delta.items()}
        if not base:
            return spark.createDataFrame([], spark_schema), delta
        return spark.read.schema(spark_schema).parquet(*(os.path.join(self.root, r) for r in base)), delta


class SnapshotStorage(Storage):
    """Read-only :class:`Storage` pinned to one historical manifest
    version — every read (bucket_rows/files/spark_df/meta) resolves
    against the frozen snapshot, so queries see the store exactly as it
    was at that flip. Writes raise. Files a snapshot references are
    protected from vacuum for as long as the snapshot is retained
    (``Storage.SNAPSHOT_KEEP`` flips)."""

    def __init__(self, base: Storage, version: int):
        # deliberately NOT calling super().__init__ — no manifest I/O
        self.root = base.root
        self.n_buckets = base.n_buckets
        self.version = version
        path = os.path.join(base._snapshot_dir(), f"v{version:08d}.json")
        try:
            with open(path) as f:
                self._pinned = json.load(f)
        except OSError:
            raise ValueError(
                f"no snapshot for version {version}: never written, or aged out "
                f"of the {Storage.SNAPSHOT_KEEP}-version retention window "
                f"(available: {base.versions()!r})"
            ) from None
        # a cache of its own: historical paths must not evict the live
        # store's entries
        self._row_cache = _RowCache(self.READ_CACHE_ROWS)

    def _read_manifest(self) -> dict:
        return self._pinned

    def _write_manifest(self, manifest):
        raise RuntimeError("SnapshotStorage is read-only (time-travel view)")

    def _cas_write_manifest(self, manifest, expected_version):
        raise RuntimeError("SnapshotStorage is read-only (time-travel view)")

    # fail BEFORE staging any bucket file, not at the final flip — a
    # write attempt must not leave orphans behind the read-only facade
    def write_lock(self):
        raise RuntimeError("SnapshotStorage is read-only (time-travel view)")

    def commit(self, *args, **kwargs):
        raise RuntimeError("SnapshotStorage is read-only (time-travel view)")

    def stage_frame(self, df, table):
        raise RuntimeError("SnapshotStorage is read-only (time-travel view)")

    def append(self, table, rows, schema):
        raise RuntimeError("SnapshotStorage is read-only (time-travel view)")

    def compact_append_table(self, table):
        raise RuntimeError("SnapshotStorage is read-only (time-travel view)")

    def replace_append_table(self, table, rows, schema, expected_version=None):
        # inherited, this would stage a retain-*.parquet into the LIVE
        # data dir before failing at the CAS — an orphan written
        # through the read-only facade (review r12)
        raise RuntimeError("SnapshotStorage is read-only (time-travel view)")


class OverlayStorage(Storage):
    """Copy-on-write view over a base :class:`Storage`.

    Reads fall through to the base snapshot; commits and appends buffer
    in memory and NEVER touch the manifest. This is how an executor task
    applies a bucket's write commands through the unmodified
    DocumentStore code path (same semantics by construction): the task
    drains the overlay into staged parquet files, and the driver
    publishes every staged file with one atomic :meth:`Storage.commit`
    flip (``files=``)."""

    def __init__(self, base: Storage):
        # deliberately NOT calling super().__init__ — no manifest I/O
        self.base = base
        self.root = base.root
        self.n_buckets = base.n_buckets
        # reads of untouched buckets fall through to the base, and so
        # does their cache
        self._row_cache = base._row_cache
        self.overlay: dict[tuple[str, int], list[dict]] = {}
        self.schemas: dict[str, pa.Schema] = {}
        self.appended: dict[str, list[dict]] = {}
        self.append_schemas: dict[str, pa.Schema] = {}
        self.dropped: set[str] = set()
        # every table EVER dropped in this overlay (drop-then-recreate
        # removes it from ``dropped`` but the final atomic flip must
        # still drop the base entries before registering the recreated
        # buckets, or stale base buckets outside the staged set survive)
        self.ever_dropped: set[str] = set()

    def bucket_rows(self, table: str, bucket: int, filters: Optional[list] = None) -> list[dict]:
        if table in self.dropped:
            return []
        if (table, bucket) in self.overlay:
            rows = [dict(r) for r in self.overlay[(table, bucket)]]
            return list(filter(_row_filter(filters), rows)) if filters else rows
        return self.base.bucket_rows(table, bucket, filters)

    def bucket_files(self, table: str, bucket: int) -> list[str]:
        """Overlaid/dropped buckets live as in-memory rows, not files —
        report none so callers sizing a Spark-vs-driver decision (e.g.
        create_index's footer row count) take the driver path, which
        reads through the overlay-aware :meth:`bucket_rows`."""
        if table in self.dropped or (table, bucket) in self.overlay:
            return []
        return self.base.bucket_files(table, bucket)

    def bucket_shape(self, table: str, bucket: int) -> tuple[int, int, int]:
        # like bucket_files: an overlaid bucket has no files
        if table in self.dropped or (table, bucket) in self.overlay:
            return 0, 0, 0
        return self.base.bucket_shape(table, bucket)

    def current_version(self):
        # overlays buffer in memory with no manifest — version pinning
        # is meaningless here (the driver's final flip carries the CAS)
        return None

    def write_lock(self):
        # no manifest, no cross-process writers: nothing to lock
        import contextlib

        return contextlib.nullcontext()

    def commit(
        self, updates, schemas, drop_tables=(), expected_version=None, appends=None,
        bucket_appends=None, files=None, meta=None,
    ):
        if files or meta:
            # registering files and manifest metadata is the driver's
            # flip, never an overlay's; refused before anything buffers
            raise RuntimeError("OverlayStorage never writes the manifest")
        for t in drop_tables:
            self.dropped.add(t)
            self.ever_dropped.add(t)
            self.overlay = {k: v for k, v in self.overlay.items() if k[0] != t}
        for key, rows in updates.items():
            self.overlay[key] = [dict(r) for r in rows]
            self.dropped.discard(key[0])  # a re-created table is live again
        # an appended bucket is staged whole, like any other (the delta
        # merged in by the one rule): the driver's flip registers one
        # file per staged bucket
        for key, rows in (bucket_appends or {}).items():
            self.overlay[key] = merge_delta(self.bucket_rows(*key), delta_of([[dict(r) for r in rows]]))
            self.dropped.discard(key[0])
        self.schemas.update(schemas)
        for table, (rows, schema) in (appends or {}).items():
            self.appended.setdefault(table, []).extend(dict(r) for r in rows)
            self.append_schemas[table] = schema
        return 0

    def append(self, table: str, rows: list[dict], schema: pa.Schema):
        self.appended.setdefault(table, []).extend(dict(r) for r in rows)
        self.append_schemas[table] = schema
        return 0

    def _write_manifest(self, manifest):  # pragma: no cover - guard
        raise RuntimeError("OverlayStorage never writes the manifest")
