"""Rollup materialized views registered in the store catalog and
served through a planner route — the continuous-aggregate face of
``operators/rollup_mv.py`` exposed on live collections.

The reference is a document store with no aggregation surface at all
(SURVEY.md §2.4 — joins/aggs are out of scope there), so this tier has
no file-level counterpart; what it REUSES from the reference is the
index lifecycle discipline (IndexDefTaskWorker.scala:71-110): a rollup
is registered INDEXING, built, then flipped NORMAL — only a NORMAL
rollup is visible to the routing in :func:`aggregate`, exactly like
sorted-MV indexes in store/query.py.

Freshness model (the part indexes don't need — they are maintained
per-write, a rollup is refreshed on read):

- every def carries ``built_revision``, the collection's gapless
  revision counter at build time (documents.py: «monotonic, gapless
  per-document revisions shared by all items»);
- a read through :func:`aggregate` compares it to the collection's
  current revision; equal ⇒ serve as-is;
- stale ⇒ classify the delta from the FEED (every write publishes a
  feed event stamped with its revision, so ``distinct revisions >
  watermark`` counting ``current − built`` PROVES the feed window is
  complete — gaplessness makes truncation detectable, not guessable):
    * insert-only delta (all ``feed:put``, each item once, each
      content row created-at==modified-at): partials from JUST the new
      items, ``rollup_merge`` — delta-bounded, the 100 TB append-mostly
      hot path; untouched buckets pass through without re-aggregation.
    * updates/deletes/patches/re-puts with the uri's FULL per-item
      feed history retained: bucket-scoped INVALIDATION — the old
      state of each changed item replays from its feed events (last
      put + subsequent patches up to the watermark; sound because
      feed retention drops a time prefix, so retained events are a
      per-item suffix), and only the grain groups whose membership
      changed recompute; untouched groups pass through unshuffled
      (:func:`_affected_groups` / :func:`_refresh_invalidated`).
    * anything unprovable (truncated feed, bulk-written revisions
      that publish no events, reconstruction past the event cap): a
      rebuild from content — one base scan into a bucket-count-sized
      exchange, the same cost as the initial build, always sound.

Values are canonicalized to decimal(20,6) at build time so partials
stay exact and order-independent (the rollup_mv discipline) and the MV
parquet schema is stable across merges (sums widen per Spark's decimal
rules; :func:`_conform` casts them back before every write).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.model import STATUS_INDEXING, STATUS_NORMAL

ROLLUP_DEFS = "rollup_defs"
ROLLUP_DEFS_SCHEMA = pa.schema(
    [
        ("document_uri", pa.string()),
        ("rollup_id", pa.string()),
        ("status", pa.int32()),
        ("ts_field", pa.string()),
        ("key_fields", pa.string()),  # JSON list of field names
        ("value_field", pa.string()),
        ("resolution", pa.string()),
        ("body_schema", pa.string()),  # Spark DDL for the item bodies
        ("table_name", pa.string()),
        ("built_revision", pa.int64()),
        # optional faces (rollup_mv): HLL distinct sketch of a field,
        # exact decimal sum-of-squares (variance/stddev at finalize)
        ("distinct_field", pa.string()),
        ("sumsq", pa.bool_()),
        # bottom-k-by-hash sample of the value (mergeable quantiles);
        # 0 = face off
        ("sample_k", pa.int32()),
    ]
)

# canonical MV value typing — build-time cast keeps every engine's
# partial sums exact and the parquet schema closed under merges
_VALUE_DDL = "decimal(20,6)"
_TOTAL_DDL = "decimal(30,6)"  # sum of decimal(20,6) per Spark's +10 rule

# date_trunc units a finer MV can be coarsened to exactly (buckets
# nest); week straddles months, so it only serves itself
_RES_RANK = {"minute": 0, "hour": 1, "day": 2, "week": 3, "month": 4, "quarter": 5, "year": 6}
_NON_NESTING = {"week"}


@dataclass
class RollupDef:
    document_uri: str
    rollup_id: str
    status: int
    ts_field: str
    key_fields: tuple[str, ...]
    value_field: str
    resolution: str
    body_schema: str
    table_name: str
    built_revision: int
    distinct_field: Optional[str] = None
    sumsq: bool = False
    sample_k: int = 0


@dataclass
class RollupRoute:
    """What :func:`aggregate` chose — the plan-assertion face, the
    analog of store/query.py's PlanInfo."""

    source: str  # "rollup" | "content"
    rollup_id: Optional[str] = None
    # "fresh" | "merged" | "invalidated" | "rebuilt" | "stale"
    refresh_mode: Optional[str] = None
    coarsened: bool = False


def _pin_current(store, attempts: int = 5):
    """A read-only store pinned to the CURRENT manifest version. Under
    heavy cross-process write traffic the version read and its snapshot
    file can race a foreign flip mid-publication (or churn out of the
    retention window between the two calls) — retry briefly; the
    current version is re-read each attempt, so this always converges
    on a quiescing store."""
    import time as _time

    for i in range(attempts):
        try:
            return store.at_version(store.storage.current_version())
        except ValueError:
            if i == attempts - 1:
                raise
            _time.sleep(0.01 * (i + 1))


def _sample_kwargs(d: RollupDef) -> dict:
    """rollup_partials kwargs for the quantile/sample face (empty when
    the face is off): the sampled column is the value itself, hashed by
    the row-unique item_id that _typed_rows carries as __sid."""
    if not d.sample_k:
        return {}
    return {"sample_col": d.value_field, "sample_id_col": "__sid", "sample_k": d.sample_k}


def _serves(def_res: str, want_res: str) -> bool:
    if def_res == want_res:
        return True
    if def_res in _NON_NESTING or want_res in _NON_NESTING:
        return False
    return _RES_RANK.get(def_res, 99) < _RES_RANK.get(want_res, -1)


def rollup_defs(store, uri: str) -> list[RollupDef]:
    out = []
    for r in store.storage.bucket_rows(ROLLUP_DEFS, 0):
        if r["document_uri"] != uri:
            continue
        out.append(
            RollupDef(
                r["document_uri"],
                r["rollup_id"],
                r["status"],
                r["ts_field"],
                tuple(json.loads(r["key_fields"])),
                r["value_field"],
                r["resolution"],
                r["body_schema"],
                r["table_name"],
                r["built_revision"],
                r.get("distinct_field"),
                bool(r.get("sumsq")),
                int(r.get("sample_k") or 0),
            )
        )
    return out


def _mv_ddl(store, d: RollupDef) -> str:
    body = store.spark.createDataFrame([], d.body_schema).schema
    types = {f.name: f.dataType.simpleString() for f in body.fields}
    cols = [f"`{k}` {types[k]}" for k in d.key_fields]
    extra = []
    if d.distinct_field:
        extra.append("dsk binary")
    if d.sumsq:
        extra.append("ssq decimal(38,12)")
    if d.sample_k:
        extra.append(f"smp array<struct<h:bigint,v:{_VALUE_DDL}>>")
    return ", ".join(
        cols
        + [
            "bucket_start timestamp",
            "n long",
            f"total {_TOTAL_DDL}",
            f"vmin {_VALUE_DDL}",
            f"vmax {_VALUE_DDL}",
        ]
        + extra
    )


def _typed_rows(store, d: RollupDef, min_revision: Optional[int] = None) -> DataFrame:
    """The collection's typed (keys, ts, value) projection, optionally
    restricted to rows written after ``min_revision`` (the delta cut —
    a pushable long predicate, unlike anything inside the JSON body)."""
    from .documents import CONTENT, CONTENT_SPARK

    df = store.storage.spark_df_or_empty(store.spark, CONTENT, CONTENT_SPARK).filter(
        (F.col("document_uri") == d.document_uri)
        & (F.col("item_id") != "")
        & (~F.col("is_deleted"))
        & F.col("body").isNotNull()
    )
    if min_revision is not None:
        df = df.filter(F.col("revision") > min_revision)
    parsed = F.from_json(F.col("body"), d.body_schema)
    # the sample face hashes a row-unique column; item_id is the one
    # column with that guarantee, carried through as __sid
    proj = df.select(F.col("item_id").alias("__sid"), parsed.alias("item")).select(
        "__sid", "item.*"
    )
    # try_cast: under ANSI one malformed ts/value in one body would
    # throw mid-build; a bad row lands in the NULL bucket (merge and
    # finalize are NULL-safe) instead of poisoning the rollup
    return proj.select(
        *[F.col(k) for k in d.key_fields],
        F.col(d.ts_field).try_cast("timestamp").alias(d.ts_field),
        F.col(d.value_field).try_cast(_VALUE_DDL).alias(d.value_field),
        *([F.col(d.distinct_field)] if d.distinct_field else []),
        *(["__sid"] if d.sample_k else []),
    )


def _conform(d: RollupDef, partials: DataFrame) -> DataFrame:
    """Cast partials back to the canonical MV schema: merge sums widen
    per Spark's decimal rules, and the next read's explicit parquet
    schema must keep matching the files on disk."""
    return partials.select(
        *[F.col(k) for k in d.key_fields],
        F.col("bucket_start").cast("timestamp").alias("bucket_start"),
        F.col("n").cast("long").alias("n"),
        F.col("total").cast(_TOTAL_DDL).alias("total"),
        F.col("vmin").cast(_VALUE_DDL).alias("vmin"),
        F.col("vmax").cast(_VALUE_DDL).alias("vmax"),
        *([F.col("dsk")] if d.distinct_field else []),
        *([F.col("ssq").cast("decimal(38,12)").alias("ssq")] if d.sumsq else []),
        *(
            [F.col("smp").cast(f"array<struct<h:bigint,v:{_VALUE_DDL}>>").alias("smp")]
            if d.sample_k
            else []
        ),
    )


def _write_mv_and_def(store, d: RollupDef, partials: DataFrame, **def_fields) -> None:
    """Stage the MV and flip it TOGETHER with the updated rollup_defs
    row in ONE manifest commit (the staged files as ``files=``, the
    defs bucket as ``updates`` — the bulk writes' content+statics
    discipline). The refresh paths need this: a crash between a
    committed MV and a separate watermark bump would leave the merged
    MV live with a stale built_revision, so the next refresh
    re-classifies the same delta as insert-only and merges it a SECOND
    time — permanent double-counting. One flip means the MV and its
    watermark are never observable apart."""
    # the long Spark work, unpinned; a fresh staging dir, because a
    # refresh READS the current MV files while writing the next version
    files = store.storage.stage_frame(_conform(d, partials), d.table_name)

    # the defs-bucket rewrite is a read-modify-write of the WHOLE
    # bucket, so its read must be version-pinned to the flip
    # (expected_version) or a foreign process's concurrent defs commit
    # (another rollup's create/refresh) would be silently reverted by
    # our stale full-bucket rewrite — a lost update that rolls back the
    # OTHER rollup's watermark and reintroduces the double-merge class.
    # The read happens AFTER staging so the pinned window is
    # milliseconds (one file write + the CAS), and a conflict retries
    # only this tail: the staged MV files embed state from the
    # caller's pinned snapshot and stay valid regardless of who flips.
    # r11: the pinned tail runs through _admin_commit — the shared
    # admin discipline (cross-process write-window lock + the write
    # path's CAS retry budget). Holding the window makes conflicts
    # rare instead of retried-into; expected_version stays as
    # defense-in-depth against a lock-bypassing writer.
    def attempt():
        v0 = store.storage.current_version()
        rows = store.storage.bucket_rows(ROLLUP_DEFS, 0)
        for r in rows:
            if r["document_uri"] == d.document_uri and r["rollup_id"] == d.rollup_id:
                r.update(def_fields)
        store.storage.commit(
            {(ROLLUP_DEFS, 0): rows},
            {ROLLUP_DEFS: ROLLUP_DEFS_SCHEMA},
            files={d.table_name: {0: files}},
            expected_version=v0,
        )

    store._admin_commit(attempt)


def _commit_defs(store, mutate, drop_tables=()) -> None:
    """Version-pinned read-modify-write of the defs bucket: ``mutate``
    takes the freshly-read row list and returns the list to commit.
    The bucket rewrite replaces EVERY row, so the read must be pinned
    to the flip (expected_version) or a foreign process's concurrent
    defs commit would be silently reverted; conflicts re-read and
    retry (the in-process lock already serializes local callers)."""
    # r11: unified on _admin_commit (write-window lock + the write
    # path's retry budget); the version pin stays as defense-in-depth
    def attempt():
        v0 = store.storage.current_version()
        rows = mutate(store.storage.bucket_rows(ROLLUP_DEFS, 0))
        store.storage.commit(
            {(ROLLUP_DEFS, 0): rows},
            {ROLLUP_DEFS: ROLLUP_DEFS_SCHEMA},
            drop_tables=drop_tables,
            expected_version=v0,
        )

    store._admin_commit(attempt)


def _update_def(store, uri: str, rollup_id: str, **fields) -> None:
    def mutate(rows):
        for r in rows:
            if r["document_uri"] == uri and r["rollup_id"] == rollup_id:
                r.update(fields)
        return rows

    _commit_defs(store, mutate)


def create_rollup(
    store,
    uri: str,
    ts_field: str,
    key_fields: Sequence[str],
    value_field: str,
    resolution: str = "day",
    schema: str = "",
    rollup_id: Optional[str] = None,
    distinct_field: Optional[str] = None,
    sumsq: bool = False,
    sample_k: int = 0,
) -> str:
    """Register a rollup MV on a collection and build it: INDEXING row
    first, Spark build, flip to NORMAL with the build watermark — the
    index lifecycle applied to a continuous aggregate. ``schema`` is
    the body DDL (required: rebuilds must parse bodies identically
    forever, so the type contract is pinned in the catalog, never
    re-inferred). A crash between build and flip leaves an INDEXING
    def that never routes; re-creating or refreshing repairs it."""
    from ..paths import is_collection_uri
    from .documents import NotFoundError
    from .idgen import create_id

    if not is_collection_uri(uri):
        raise ValueError("rollups are only supported for collections")
    if not schema:
        raise ValueError("schema (body DDL) is required for a rollup definition")
    if resolution not in _RES_RANK:
        raise ValueError(f"unsupported resolution {resolution!r}; one of {sorted(_RES_RANK)}")
    if sample_k < 0:
        raise ValueError(f"sample_k must be >= 0, got {sample_k}")
    static = store._get_static(uri)
    if static is None or static["is_deleted"]:
        raise NotFoundError(uri)
    body = store.spark.createDataFrame([], schema).schema
    names = {f.name for f in body.fields}
    for fname in (ts_field, value_field, *key_fields, *([distinct_field] if distinct_field else [])):
        if fname not in names:
            raise ValueError(f"field {fname!r} not in the supplied body schema")
    rollup_id = rollup_id or f"rollup-{create_id()}"

    with store._lock:
        from .storage import _sanitize

        tname = f"rollup_{_sanitize(uri)}_{_sanitize(rollup_id)}"

        def register(rows):
            if any(r["document_uri"] == uri and r["rollup_id"] == rollup_id for r in rows):
                raise ValueError(f"rollup {rollup_id!r} already exists on {uri!r}")
            rows.append(
            {
                "document_uri": uri,
                "rollup_id": rollup_id,
                "status": STATUS_INDEXING,
                "ts_field": ts_field,
                "key_fields": json.dumps(list(key_fields)),
                "value_field": value_field,
                "resolution": resolution,
                "body_schema": schema,
                "table_name": tname,
                "built_revision": 0,
                "distinct_field": distinct_field,
                "sumsq": sumsq,
                    "sample_k": sample_k,
                }
            )
            return rows

        _commit_defs(store, register)

        d = RollupDef(
            uri, rollup_id, STATUS_INDEXING, ts_field, tuple(key_fields),
            value_field, resolution, schema, tname, 0, distinct_field, sumsq, sample_k,
        )
        # build from a PINNED snapshot (same discipline as
        # refresh_rollup): the in-process lock cannot stop a foreign
        # process's write from landing between the static read and the
        # partials computation — with live reads that write would be
        # baked into the MV but ABOVE the recorded watermark, and the
        # next merge would add it a second time
        pinned = _pin_current(store)
        built_rev = pinned._get_static(uri)["revision"]
        from ..operators.rollup_mv import rollup_partials

        partials = rollup_partials(
            _typed_rows(pinned, d), ts_field, list(key_fields), value_field, resolution,
            distinct_col=distinct_field, sumsq=sumsq,
            **(
                {"sample_col": value_field, "sample_id_col": "__sid", "sample_k": sample_k}
                if sample_k
                else {}
            ),
        )
        # MV registration and the NORMAL flip in one commit — only
        # after it does aggregate() route here (db/Db.scala:103-107
        # discipline, same as create_index); a crash mid-build leaves
        # the INDEXING def that never routes
        _write_mv_and_def(store, d, partials, status=STATUS_NORMAL, built_revision=built_rev)
        return rollup_id


def drop_rollup(store, uri: str, rollup_id: str) -> None:
    with store._lock:
        rows0 = store.storage.bucket_rows(ROLLUP_DEFS, 0)
        dropped = next(
            (r for r in rows0 if r["document_uri"] == uri and r["rollup_id"] == rollup_id),
            None,
        )
        if dropped is None:
            raise ValueError(f"no rollup {rollup_id!r} on {uri!r}")

        def remove(rows):
            return [
                r for r in rows
                if not (r["document_uri"] == uri and r["rollup_id"] == rollup_id)
            ]

        _commit_defs(store, remove, drop_tables=[dropped["table_name"]])


def _delta_class(store, d: RollupDef, current_rev: int) -> str:
    """Classify the writes since the build watermark: "merge" iff the
    feed PROVES the delta is insert-only (see module docstring),
    else "rebuild"."""
    from .documents import CONTENT, CONTENT_SPARK, FEED, FEED_SPARK

    feed = store.storage.spark_df_or_empty(store.spark, FEED, FEED_SPARK).filter(
        (F.col("document_uri") == d.document_uri) & (F.col("revision") > d.built_revision)
    )
    s = feed.agg(
        F.count("*").alias("events"),
        F.count_distinct(F.col("revision")).alias("revs"),
        F.count_distinct(F.col("item_id")).alias("items"),
        F.sum((F.col("method") != "feed:put").cast("int")).alias("non_puts"),
    ).collect()[0]
    expected_revs = current_rev - d.built_revision
    if s.revs != expected_revs:
        return "rebuild"  # feed truncated under the watermark — unprovable delta
    if (s.non_puts or 0) > 0 or s.events != s.items:
        return "rebuild"  # updates/deletes/patches or re-puts in the window
    # every delta item must be a fresh create (created_at == modified_at
    # on its current content row) — a put over an existing item has an
    # older created_at and its previous value is already in the MV
    content = store.storage.spark_df_or_empty(store.spark, CONTENT, CONTENT_SPARK).filter(
        (F.col("document_uri") == d.document_uri)
        & (F.col("item_id") != "")
        & (F.col("revision") > d.built_revision)
    )
    c = content.agg(
        F.count("*").alias("rows"),
        F.sum((F.col("created_at") == F.col("modified_at")).cast("int")).alias("creates"),
        F.sum(F.col("is_deleted").cast("int")).alias("tombstones"),
    ).collect()[0]
    if c.rows != s.items or (c.creates or 0) != c.rows or (c.tombstones or 0) > 0:
        return "rebuild"
    return "merge"


# collected reconstruction events per invalidation pass; past this the
# driver-side replay stops being "delta-bounded" and a rebuild is
# cheaper anyway
_INVALIDATE_EVENT_CAP = 20_000


def _affected_groups(store, d: RollupDef, current_rev: int) -> Optional[DataFrame]:
    """The distinct (keys…, bucket_start) grain groups whose membership
    changed since the watermark — or None when they cannot be PROVEN
    (then the caller rebuilds).

    Soundness rests on two feed properties: per-uri revisions are
    assigned monotonically in time, and ``truncate_feed`` drops a time
    PREFIX — so the retained events of any item are a SUFFIX of its
    history. The path engages only when the uri's retained feed is its
    FULL history (distinct revisions == 1..current — which also proves
    every write was per-item-API evented; bulk ingest/merge revisions
    publish no events and would leave gaps). Then, per affected item:
    its state at the watermark replays from its last ``feed:put`` ≤ W
    plus subsequent ≤ W patches (all retained, by the suffix
    property), and an item with NO event ≤ W provably did not exist
    at W. OLD groups come from bucketing those reconstructed states
    through the SAME Spark expressions the MV build uses (driver-side
    date_trunc reimplementations would drift on week/quarter rules);
    NEW groups from the current typed rows with revision > W."""
    from .documents import FEED, FEED_SPARK
    from .merge import merge_patch

    W = d.built_revision
    # CONTENT events only (review r12): index-DDL events ride the same
    # feed with item_id = index_id and revision 0 (the DDL marker), so
    # without the revision floor a collection that ever created or
    # dropped an index fails the rmin==1 completeness proof forever
    # and every refresh silently takes the full-rebuild path — the
    # delta-bounded invalidation this module exists for never engages
    feed = store.storage.spark_df_or_empty(store.spark, FEED, FEED_SPARK).filter(
        (F.col("document_uri") == d.document_uri)
        & (F.col("item_id") != "")
        & (F.col("revision") >= 1)
    )
    s = feed.agg(
        F.count_distinct("revision").alias("revs"),
        F.min("revision").alias("rmin"),
    ).collect()[0]
    if s.rmin != 1 or s.revs != current_rev:
        return None  # truncated or bulk-written history — unprovable old states
    affected = feed.filter(F.col("revision") > W).select("item_id").distinct()
    history = (
        feed.filter(F.col("revision") <= W)
        .join(F.broadcast(affected), "item_id", "left_semi")
        .select("item_id", "revision", "method", "body")
    )
    if history.count() > _INVALIDATE_EVENT_CAP:
        return None
    by_item: dict[str, list] = {}
    for r in history.collect():
        by_item.setdefault(r.item_id, []).append(r)
    old_bodies: list[str] = []
    for item, events in by_item.items():
        state = None
        for e in sorted(events, key=lambda x: x.revision):
            if e.method == "feed:put":
                state = json.loads(e.body) if e.body is not None else None
            elif e.method == "feed:patch":
                patch = json.loads(e.body) if e.body is not None else None
                state = merge_patch(state if isinstance(state, dict) else {}, patch)
            elif e.method == "feed:delete":
                state = None
        if isinstance(state, dict):  # Null/deleted state contributed nothing
            old_bodies.append(json.dumps(state))
    grain_exprs = [
        *[F.col(k) for k in d.key_fields],
        F.date_trunc(d.resolution, F.col(d.ts_field).try_cast("timestamp")).alias(
            "bucket_start"
        ),
    ]
    old_groups = (
        store.spark.createDataFrame([(b,) for b in old_bodies], "body string")
        .select(F.from_json(F.col("body"), d.body_schema).alias("item"))
        .select("item.*")
        .select(*grain_exprs)
        if old_bodies
        else None
    )
    new_groups = _typed_rows(store, d, min_revision=W).select(
        *[F.col(k) for k in d.key_fields],
        F.date_trunc(d.resolution, F.col(d.ts_field)).alias("bucket_start"),
    )
    groups = new_groups if old_groups is None else new_groups.unionByName(old_groups)
    groups = groups.distinct()
    # the group set broadcasts into both the semi and the anti join —
    # a delta touching more groups than this is no longer "scoped" and
    # a rebuild is cheaper than shipping a huge broadcast anyway
    if groups.count() > 10_000:
        return None
    return groups


def _refresh_invalidated(store, d: RollupDef, groups: DataFrame) -> DataFrame:
    """Recompute ONLY the affected grain groups and return the stitched
    MV frame (the caller commits it atomically with the watermark):
    untouched groups pass through without re-aggregation
    (null-safe anti join — a NULL bucket/key is a real grain here),
    affected groups re-aggregate from the current content restricted
    to them (one base scan, exchange bounded by the affected groups),
    and groups that lost every member vanish because the recompute
    emits nothing for them."""
    from ..operators.rollup_mv import rollup_partials

    g = groups
    grain = [*d.key_fields, "bucket_start"]
    typed = _typed_rows(store, d).withColumn(
        "bucket_start", F.date_trunc(d.resolution, F.col(d.ts_field))
    )
    cond_t = None
    for c in grain:
        e = typed[c].eqNullSafe(g[c])
        cond_t = e if cond_t is None else (cond_t & e)
    members = typed.join(F.broadcast(g), cond_t, "left_semi").drop("bucket_start")
    recomputed = rollup_partials(
        members, d.ts_field, list(d.key_fields), d.value_field, d.resolution,
        distinct_col=d.distinct_field, sumsq=d.sumsq, **_sample_kwargs(d),
    )
    existing = store.storage.spark_df_or_empty(store.spark, d.table_name, _mv_ddl(store, d))
    cond_e = None
    for c in grain:
        e = existing[c].eqNullSafe(g[c])
        cond_e = e if cond_e is None else (cond_e & e)
    untouched = existing.join(F.broadcast(g), cond_e, "left_anti")
    return untouched.unionByName(_conform(d, recomputed))


def refresh_rollup(store, uri: str, rollup_id: str) -> str:
    """Bring a rollup to the collection's current revision. Returns the
    mode taken: "fresh" (already at the watermark), "merged"
    (delta-bounded insert-only merge), "invalidated" (bucket-scoped
    recompute of just the grain groups the updates/deletes touched —
    engages when the feed retains the uri's full per-item history, see
    :func:`_affected_groups`), or "rebuilt" (the always-sound
    fallback)."""
    from ..operators.rollup_mv import rollup_merge, rollup_partials
    from .documents import NotFoundError

    with store._lock:
        # def AND static read INSIDE the lock: a def read before it can
        # carry a stale watermark — two concurrent refreshes would both
        # classify the same delta and merge it twice, permanently
        # double-counting the touched buckets
        d = next((r for r in rollup_defs(store, uri) if r.rollup_id == rollup_id), None)
        if d is None:
            raise ValueError(f"no rollup {rollup_id!r} on {uri!r}")
        # EVERY data read below goes through a snapshot pinned to one
        # manifest version, and built_revision records THAT snapshot's
        # static revision. The in-process lock cannot stop a foreign
        # PROCESS from flipping mid-refresh: with live reads, a write
        # landing between the static read and the partials computation
        # gets absorbed into the MV while the watermark records the
        # older revision — the next refresh re-classifies those rows
        # as delta and merges them a second time. Pinning makes
        # MV-content ≡ state@built_revision true by construction at
        # any interleaving (caught by tools/soak.py invariant 5).
        pinned = _pin_current(store)
        static = pinned._get_static(uri)
        if static is None or static["is_deleted"]:
            raise NotFoundError(uri)
        current_rev = static["revision"]
        if d.status == STATUS_NORMAL and current_rev == d.built_revision:
            return "fresh"
        mode = "rebuild" if d.status != STATUS_NORMAL else _delta_class(pinned, d, current_rev)
        # every refresh path commits the MV and its watermark in ONE
        # manifest flip (_write_mv_and_def): the merge path in
        # particular is NOT idempotent — a crash between a committed
        # MV and a separate built_revision bump would re-merge the
        # same delta on the next refresh (permanent double-count)
        if mode == "rebuild" and d.status == STATUS_NORMAL:
            groups = _affected_groups(pinned, d, current_rev)
            if groups is not None:
                stitched = _refresh_invalidated(pinned, d, groups)
                _write_mv_and_def(store, d, stitched, built_revision=current_rev)
                return "invalidated"
        if mode == "merge":
            delta = rollup_partials(
                _typed_rows(pinned, d, min_revision=d.built_revision),
                d.ts_field,
                list(d.key_fields),
                d.value_field,
                d.resolution,
                distinct_col=d.distinct_field,
                sumsq=d.sumsq,
                **_sample_kwargs(d),
            )
            existing = pinned.storage.spark_df_or_empty(store.spark, d.table_name, _mv_ddl(store, d))
            merged = rollup_merge(
                existing, _conform(d, delta), list(d.key_fields),
                **({"sample_k": d.sample_k} if d.sample_k else {}),
            )
            _write_mv_and_def(store, d, merged, built_revision=current_rev)
            return "merged"
        partials = rollup_partials(
            _typed_rows(pinned, d), d.ts_field, list(d.key_fields), d.value_field,
            d.resolution, distinct_col=d.distinct_field, sumsq=d.sumsq,
            **_sample_kwargs(d),
        )
        _write_mv_and_def(
            store, d, partials, status=STATUS_NORMAL, built_revision=current_rev
        )
        return "rebuilt"


def _with_quantiles(df: DataFrame) -> DataFrame:
    """Serving quantiles (p50/p95) from the bottom-k sample face —
    exact when sample_k >= the bucket size, O(1/sqrt(k)) otherwise
    (rollup_mv.rollup_quantile). Other percentiles: call
    rollup_quantile on the view directly; the raw smp column stays."""
    from ..operators.rollup_mv import rollup_quantile

    return rollup_quantile(rollup_quantile(df, 0.5, "p50"), 0.95, "p95")


def rollup_view(store, uri: str, rollup_id: str, resolution: Optional[str] = None) -> DataFrame:
    """The finalized serving view of a rollup MV (keys, bucket_start,
    n, total, vmin, vmax, avg[, p50, p95 when the sample face is on]),
    coarsened on the fly when a coarser ``resolution`` is asked of a
    finer MV (exact — partials compose)."""
    from ..operators.rollup_mv import rollup_coarsen, rollup_finalize

    d = next((r for r in rollup_defs(store, uri) if r.rollup_id == rollup_id), None)
    if d is None:
        raise ValueError(f"no rollup {rollup_id!r} on {uri!r}")
    mv = store.storage.spark_df_or_empty(store.spark, d.table_name, _mv_ddl(store, d))
    if resolution is not None and resolution != d.resolution:
        if not _serves(d.resolution, resolution):
            raise ValueError(
                f"rollup at {d.resolution!r} cannot serve {resolution!r} exactly"
            )
        # NO _conform here: this view never round-trips to parquet, and
        # narrowing the coarse sum-of-totals back to decimal(30,6)
        # would, under non-ANSI arithmetic, turn an overflowing coarse
        # bucket into a silent NULL total — keep Spark's widened
        # decimal(38,6) sum on the serve path
        mv = rollup_coarsen(
            mv, list(d.key_fields), resolution,
            **({"sample_k": d.sample_k} if d.sample_k else {}),
        )
    out = rollup_finalize(mv)
    return _with_quantiles(out) if d.sample_k else out


def aggregate(
    store,
    uri: str,
    ts_field: str,
    key_fields: Sequence[str],
    value_field: str,
    resolution: str = "day",
    schema: str = "",
    auto_refresh: bool = True,
    distinct_field: Optional[str] = None,
    sumsq: bool = False,
    sample_k: int = 0,
) -> tuple[DataFrame, RollupRoute]:
    """The planner face: answer a (keys, time-bucket) aggregate over a
    collection FROM a matching NORMAL rollup when one exists — the way
    store/query.py routes filtered/sorted reads to sorted-MV indexes —
    falling back to a direct base-collection aggregation otherwise.

    A matching rollup serves if its grain equals the request or nests
    under it (day MV answering month — rollup_coarsen, exact); among
    several servable defs the COARSEST grain wins (fewest MV rows to
    coarsen). A stale match is refreshed first (``auto_refresh``; pass
    False to serve the stale MV and let the route report it). The
    fallback needs ``schema`` (the body DDL) just like collection_df."""
    from .documents import NotFoundError

    # 404 parity with the query path: an aggregate over a missing or
    # deleted collection is an error, not an empty frame
    static0 = store._get_static(uri)
    if static0 is None or static0["is_deleted"]:
        raise NotFoundError(uri)
    keys = tuple(key_fields)
    servable = []
    for d in rollup_defs(store, uri):
        if d.status != STATUS_NORMAL:
            continue
        if (d.ts_field, d.key_fields, d.value_field) != (ts_field, keys, value_field):
            continue
        # face match: the request's output schema is part of the route
        # contract — a def with extra faces would change the columns
        if (d.distinct_field or None, d.sumsq, d.sample_k) != (
            distinct_field or None, sumsq, sample_k,
        ):
            continue
        if not _serves(d.resolution, resolution):
            continue
        servable.append(d)
    if servable:
        # cost-based pick, not first-match: among servable rollups the
        # COARSEST grain has the fewest MV rows to coarsen (a month
        # query routes to the day MV, not the minute MV) — weighIndex's
        # max-not-first discipline (IndexLogic.scala:89-106) applied to
        # grain rank; rollup_id tie-break keeps the route deterministic
        d = max(servable, key=lambda x: (_RES_RANK[x.resolution], x.rollup_id))
        static = store._get_static(uri)
        stale = static is not None and static["revision"] != d.built_revision
        if stale and auto_refresh:
            mode = refresh_rollup(store, uri, d.rollup_id)
        else:
            mode = "stale" if stale else "fresh"
        df = rollup_view(store, uri, d.rollup_id, resolution=resolution)
        return df, RollupRoute(
            "rollup", d.rollup_id, mode, coarsened=resolution != d.resolution
        )
    # no servable rollup: aggregate the base collection directly
    if not schema:
        raise ValueError("no servable rollup and no schema for a base-collection aggregate")
    from ..operators.rollup_mv import rollup_finalize, rollup_partials

    d = RollupDef(
        uri, "", STATUS_NORMAL, ts_field, keys, value_field, resolution, schema, "", 0,
        distinct_field, sumsq, sample_k,
    )
    df = rollup_finalize(
        rollup_partials(
            _typed_rows(store, d), ts_field, list(keys), value_field, resolution,
            distinct_col=distinct_field, sumsq=sumsq, **_sample_kwargs(d),
        )
    )
    if sample_k:
        df = _with_quantiles(df)
    return df, RollupRoute("content")
