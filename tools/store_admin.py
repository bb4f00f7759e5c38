"""Operational CLI for a document-store root.

The reference runs as a service with its operations driven over the
bus; this engine is a library, so day-2 operations get a command-line
face instead:

    python tools/store_admin.py ROOT info
    python tools/store_admin.py ROOT versions
    python tools/store_admin.py ROOT vacuum [--grace SECONDS] [--keep N]
    python tools/store_admin.py ROOT compact
    python tools/store_admin.py ROOT rollback VERSION
    python tools/store_admin.py ROOT truncate-feed --older-than-ms MS
    python tools/store_admin.py ROOT retention [--feed-keep-ms MS] [--grace S] [--keep N]

Every command prints ONE JSON line. No Spark session is started —
these are manifest/file operations.
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, ".")


def _health(store) -> dict:
    """Everything a pager-holder asks first, in one driver-side pass:
    per-collection item/tombstone/revision stats with the gapless
    feed-parity invariant CHECKED (not assumed), content bucket skew
    (hottest bucket ÷ mean — the reducer imbalance a collection scan
    inherits), and the orphan-file count a vacuum pass would reclaim.
    No Spark session; manifest + parquet footer reads."""
    import os

    from hyper_storage_spark.store.documents import CONTENT, FEED, STATICS

    statics = store.storage.all_rows(STATICS)
    content = store.storage.all_rows(CONTENT)
    feed = store.storage.all_rows(FEED)

    colls = {}
    for s in statics:
        uri = s["document_uri"]
        if s["is_deleted"]:
            continue
        rows = [c for c in content if c["document_uri"] == uri and c["item_id"]]
        frevs = sorted({f["revision"] for f in feed if f["document_uri"] == uri})
        r = s["revision"]
        colls[uri] = {
            "revision": r,
            "live_items": sum(1 for c in rows if not c["is_deleted"]),
            "tombstones": sum(1 for c in rows if c["is_deleted"]),
            "feed_events": sum(1 for f in feed if f["document_uri"] == uri),
            # INVARIANT (gates ok): no published revision may exceed the
            # counter — that would mean a lost counter bump
            "feed_bounded": not frevs or frevs[-1] <= r,
            # INFORMATIONAL: full per-item coverage 1..R. Bulk paths
            # (ingest_collection / merge_collection / expire_items) bump
            # the revision WITHOUT feed events by design, and retention
            # truncates a prefix — so gaps here are normal for
            # bulk-loaded or truncated stores, and this field must NOT
            # gate ok (a healthy bulk-ingested store would page forever)
            "feed_covers_all_revisions": frevs == list(range(1, r + 1)),
        }
    # content bucket skew: rows per manifest bucket of the content table
    bucket_rows = {
        b: len(store.storage.bucket_rows(CONTENT, int(b)))
        for b in store.storage._read_manifest()["tables"].get(CONTENT, {})
    }
    sizes = [n for n in bucket_rows.values() if n > 0]
    skew = round(max(sizes) * len(sizes) / sum(sizes), 2) if sizes else 1.0

    # orphans: data files on disk no retained manifest references
    referenced = set()

    def _add_refs(tables: dict) -> None:
        for t in tables.values():
            for v in t.values():
                # a bucket value is one path (plain commit) or a LIST
                # of paths (commits with files=: ingest/merge/backfill)
                if isinstance(v, list):
                    referenced.update(v)
                else:
                    referenced.add(v)

    _add_refs(store.storage._read_manifest()["tables"])
    manifest = store.storage._read_manifest()
    for v in store.storage.versions():
        try:
            snap = store.at_version(v).storage._read_manifest()
        except ValueError:
            continue
        _add_refs(snap["tables"])
    on_disk = []
    data_dir = os.path.join(store.storage.root, "data")
    for dirpath, _, files in os.walk(data_dir):
        for f in files:
            if f.endswith(".parquet"):
                on_disk.append(os.path.relpath(os.path.join(dirpath, f), store.storage.root))
    orphans = sum(1 for f in on_disk if f not in referenced)

    return {
        "version": manifest["version"],
        "collections": colls,
        "content_bucket_skew": skew,
        "orphan_files": orphans,
        "ok": all(c["feed_bounded"] for c in colls.values()),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("root", help="store root directory")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("info")
    sub.add_parser("versions")
    vac = sub.add_parser("vacuum")
    vac.add_argument("--grace", type=float, default=3600.0)
    vac.add_argument(
        "--keep",
        type=int,
        default=None,
        help="override snapshot retention for this pass (0 = current-only, "
        "forfeits time travel over the reclaimed history)",
    )
    sub.add_parser("compact")
    rb = sub.add_parser("rollback")
    rb.add_argument("version", type=int)
    tf = sub.add_parser("truncate-feed")
    tf.add_argument("--older-than-ms", type=int, required=True,
                    help="drop published feed events with ts before this epoch-ms")
    ret = sub.add_parser(
        "retention",
        help="one-shot maintenance pass (cron this): truncate the feed "
        "by age, compact append tables, vacuum unreferenced files",
    )
    ret.add_argument("--feed-keep-ms", type=int, default=7 * 24 * 3600 * 1000,
                     help="feed event retention window (default 7 days)")
    ret.add_argument("--grace", type=float, default=3600.0)
    ret.add_argument("--keep", type=int, default=None,
                     help="snapshot retention override passed to vacuum")
    sub.add_parser(
        "health",
        help="one-shot day-2 diagnostic: per-collection stats, "
        "revision/feed parity, bucket skew, orphan files",
    )
    dv = sub.add_parser(
        "diff", help="item-level changes between two retained versions"
    )
    dv.add_argument("v_from", type=int)
    dv.add_argument("v_to", type=int, nargs="?", default=None,
                    help="omit to diff against the current state")
    dv.add_argument("--uri", default=None, help="restrict to one collection")
    args = ap.parse_args(argv)

    from hyper_storage_spark.store import DocumentStore

    store = DocumentStore(args.root)
    if args.cmd == "info":
        out = store.info()
    elif args.cmd == "versions":
        out = {"versions": store.storage.versions()}
    elif args.cmd == "vacuum":
        out = {
            "removed": store.vacuum(grace_seconds=args.grace, keep_versions=args.keep)
        }
    elif args.cmd == "compact":
        out = {"compacted": store.compact_appends()}
    elif args.cmd == "rollback":
        out = {"restored_to": args.version, "new_version": store.restore_version(args.version)}
    elif args.cmd == "diff":
        changes = store.diff_versions(args.v_from, args.v_to, uri=args.uri)
        out = {"n_changes": len(changes), "changes": changes}
    elif args.cmd == "health":
        out = _health(store)
    elif args.cmd == "truncate-feed":
        out = {"events_removed": store.truncate_feed(args.older_than_ms)}
    elif args.cmd == "retention":
        import time as _time

        cutoff = int(_time.time() * 1000) - args.feed_keep_ms
        # order matters: truncate makes feed files superseded, compact
        # merges what remains, vacuum reclaims everything unreferenced
        out = {
            "feed_events_removed": store.truncate_feed(cutoff),
            "compacted": store.compact_appends(),
            "vacuum_removed": store.vacuum(
                grace_seconds=args.grace, keep_versions=args.keep
            ),
        }
    else:  # pragma: no cover — argparse enforces
        raise SystemExit(2)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
