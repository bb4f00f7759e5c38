"""Multi-writer chaos soak for the document store: N OS processes ×
M threads of mixed put / patch / delete / write_batch / vacuum /
compact against ONE store root, with a SIGKILL loop that murders and
respawns random workers mid-write — then a full invariant sweep over
the survivor state. No recovery pass runs anywhere: every write
completes in its own manifest flip, so the sweep reads the raw
post-kill state.

Invariants asserted (not eyeballed):

  1. GAPLESS REVISIONS — per collection, the distinct feed revisions
     form exactly 1..R where R is the static's revision counter: no
     write ever lost a number, no number was double-assigned to
     different flips (the flock-serialized CAS contract).
  2. FEED/REVISION PARITY — every live content row's (item, revision)
     has a published feed event; max feed revision == static revision
     == max content revision.
  3. LOG LOWER BOUND — every op a worker fsync-logged as successful is
     present in the feed at its returned revision (kills may leave
     EXTRA committed-but-unlogged ops — at-least-once — never missing
     ones).
  4. ZERO ORPHANS, IDS RESOLVE — every manifest-referenced file exists
     on disk; every transaction id a single-op worker logged with its
     acknowledged put/patch/delete still resolves, after the kills,
     compactions and vacuums, to the logged path and revision (the feed
     is the transaction log: a torn flip, or a compaction that moved an
     event out of the file its id names, breaks this); a closing vacuum
     removes only unreferenced files and the state re-reads intact.
  5. ROLLUP READ PARITY (round 9, needs --spark / a session) — a
     concurrent reader thread drives store.aggregate() (auto_refresh
     on) against a registered rollup THROUGHOUT the kill loop; at
     every iteration where the refreshed MV is provably at the
     snapshot's revision, the served rollup answer must equal a
     direct base aggregation over the SAME pinned manifest snapshot
     (at_version) — and every recorded (version, answer) pair still in
     snapshot retention must re-read IDENTICALLY at the end of the
     run, after all the kills and concurrent vacuums. One final
     quiesced refresh+compare runs unconditionally, so the invariant
     is asserted at least once even if every in-loop iteration raced
     a writer. Cross-process CAS conflicts during refresh are counted
     and retried (the documented multi-writer norm), never asserted.
  6. REST FACE (round 10, needs a session) — a concurrent thread owns
     one collection END-TO-END through RestFacade.handle (PUT/PATCH/
     DELETE/GET + the planner _aggregate route) while the worker
     fleet, kills, and vacuums rage on sibling collections in the
     same root: write revisions must be strictly monotonic per
     document, GET must return exactly the last written revision and
     body (read-your-write through the verb surface), and the served
     aggregate must equal an independent in-memory shadow model of
     everything this thread wrote (count/sum/min/max per key+day).
     One final quiesced aggregate-vs-shadow comparison runs
     unconditionally; retryable read races mid-loop are counted, a
     retryable error on the FINAL check is a failure.
  7. INDEX DELTA ATOMICITY — soak_b~ carries a filtered index from the
     start, which every item write maintains by appending delta rows
     in its one flip (and folds at the file cap or in compact). At the
     end its merged rows must equal a rebuild from live content:
     a SIGKILL can never leave a delta without its content or content
     without its delta. Workers stop compacting in their last
     min(10 s, seconds/4), so the check usually merges pending delta
     files (``index_files`` > 1 in the output) rather than comparing a
     folded base only.

Usage: python tools/soak.py [--procs 4] [--threads 3] [--seconds 45]
       [--kill-every 4] [--root DIR] [--no-spark]
Prints one JSON line with op counts and invariant results; exit 0 iff
all invariants hold. Used by tests/test_store.py's marked-slow soak.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKER = r"""
import json, os, random, sys, threading, time
sys.path.insert(0, sys.argv[5])
from hyper_storage_spark.store import DocumentStore

root, wid, seconds, threads = sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), int(sys.argv[4])
store = DocumentStore(root)
log = open(os.path.join(root, f"_soak_log_{wid}_{os.getpid()}.jsonl"), "a")
loglock = threading.Lock()
COLLS = ["soak_a~", "soak_b~", "soak_c~"]
ITEMS = [f"i{n:02d}" for n in range(24)]
stop = time.time() + seconds
# no compact in the final stretch, so the closing check of invariant 7
# merges the index's pending delta files instead of one folded base
quiet = stop - min(10.0, seconds / 4)

def record(op, path, rev, txn=None):
    with loglock:
        log.write(json.dumps({"op": op, "path": path, "rev": rev, "txn": txn}) + "\n")
        log.flush()
        os.fsync(log.fileno())

def body(rng):
    # ts feeds the soak rollup (invariant 8): a day bucket per item
    return {"a": rng.randint(0, 99), "b": f"w{rng.randint(0, 9)}", "n": rng.random(),
            "ts": f"2024-01-{rng.randint(1, 9):02d} {rng.randint(0, 23):02d}:00:00"}

def writer(tid):
    rng = random.Random(hash((wid, tid, os.getpid())) & 0xFFFF)
    while time.time() < stop:
        coll, item = rng.choice(COLLS), rng.choice(ITEMS)
        path = f"{coll}/{item}"
        roll = rng.random()
        try:
            if roll < 0.5:
                _, rev, txn = store.put_txn(path, body(rng))
                record("put", path, rev, txn)
            elif roll < 0.7:
                _, rev, txn = store.patch_txn(path, {"a": rng.randint(100, 199)})
                record("patch", path, rev, txn)
            elif roll < 0.8:
                rev, txn = store.delete_txn(path)
                record("delete", path, rev, txn)
            else:
                ops = [("put", f"{coll}/{i}", body(rng)) for i in rng.sample(ITEMS, 3)]
                for (m, p, _), out in zip(ops, store.write_batch(ops)):
                    if isinstance(out, tuple):
                        record("put", p, out[1])
        except KeyError:
            pass  # patch/delete of a not-yet-created item
        except Exception as e:
            # UNEXPECTED: the write path retries conflicts internally,
            # so anything surfacing here is a real failure — record it
            # (a swallowed exception would let a store that fails most
            # writes pass the soak trivially)
            record("exception", path, f"{type(e).__name__}: {e}"[:200])

def maintenance():
    rng = random.Random(wid * 7919)
    while time.time() < stop:
        time.sleep(rng.uniform(0.5, 1.5))
        try:
            op = rng.choice(["vacuum", "compact"] if time.time() < quiet else ["vacuum"])
            if op == "vacuum":
                store.vacuum(grace_seconds=0.5)
            else:
                store.compact_appends()
        except Exception:
            pass  # maintenance may race a concurrent flip; writers own correctness

ts = [threading.Thread(target=writer, args=(t,)) for t in range(threads)]
ts.append(threading.Thread(target=maintenance))
for t in ts:
    t.start()
for t in ts:
    t.join()
print("worker done", wid)
"""


SOAK_SCHEMA = "a long, b string, n double, ts string"


class _RollupReader:
    """Invariant-5 driver: concurrent aggregate() reads + time-travel
    parity checks against one rollup on soak_a~ (see module docstring)."""

    def __init__(self, store, spark):
        self.store = store
        self.spark = spark
        self.uri = "soak_a~"
        self.comparisons = 0
        self.stale_skips = 0
        self.conflicts = 0
        self.modes: dict[str, int] = {}
        self.failures: list[str] = []
        self.history: list[tuple[int, list]] = []  # (manifest version, rows)
        store.put(f"{self.uri}/seed", {"a": 1, "b": "w0", "n": 0.5, "ts": "2024-01-01 00:00:00"})
        self.rollup_id = store.create_rollup(
            self.uri, "ts", ["b"], "a", resolution="day", schema=SOAK_SCHEMA,
            rollup_id="soak-rollup",
        )

    def _rows(self, st, use_mv: bool):
        """The comparable row set at a pinned store: the served MV view
        (use_mv) or the direct base aggregation over the same content —
        identical partial semantics (rollup_partials on _typed_rows)."""
        from hyper_storage_spark.operators.rollup_mv import rollup_finalize, rollup_partials
        from hyper_storage_spark.store import rollups as R

        d = next(r for r in R.rollup_defs(st, self.uri) if r.rollup_id == self.rollup_id)
        if use_mv:
            df = R.rollup_view(st, self.uri, self.rollup_id)
        else:
            df = rollup_finalize(
                rollup_partials(
                    R._typed_rows(st, d), d.ts_field, list(d.key_fields),
                    d.value_field, d.resolution,
                )
            )
        return sorted(
            (r["b"], str(r["bucket_start"]), r["n"], str(r["total"]),
             str(r["vmin"]), str(r["vmax"]))
            for r in df.collect()
        )

    def check_once(self, final: bool = False) -> None:
        """One refresh + pinned-snapshot comparison. During the loop a
        writer may land between the refresh and the snapshot pin — the
        MV at the pin is then legitimately stale and the iteration is
        skipped (counted); the FINAL quiesced call asserts instead."""
        from hyper_storage_spark.store import rollups as R
        from hyper_storage_spark.store.storage import ManifestConflict

        try:
            _, route = self.store.aggregate(
                self.uri, "ts", ["b"], "a", resolution="day", schema=SOAK_SCHEMA,
            )
            self.modes[route.refresh_mode] = self.modes.get(route.refresh_mode, 0) + 1
            v = self.store.storage.current_version()
            snap = self.store.at_version(v)
            d = next(r for r in R.rollup_defs(snap, self.uri) if r.rollup_id == self.rollup_id)
            static = snap._get_static(self.uri)
            if static["revision"] != d.built_revision:
                self.stale_skips += 1
                if final:
                    self.failures.append(
                        f"final quiesced refresh left MV stale: static "
                        f"{static['revision']} vs built {d.built_revision}"
                    )
                return
            served = self._rows(snap, use_mv=True)
            direct = self._rows(snap, use_mv=False)
            self.comparisons += 1
            if served != direct:
                only_s = [r for r in served if r not in direct][:5]
                only_d = [r for r in direct if r not in served][:5]
                self.failures.append(
                    f"rollup parity broke at manifest v{v} (revision "
                    f"{d.built_revision}): served-only {only_s}, direct-only {only_d}"
                )
            else:
                self.history.append((v, served))
        except ManifestConflict:
            self.conflicts += 1  # a writer's flip won the CAS — retry next tick
        except Exception as e:  # noqa: BLE001 — a reader crash is a finding
            full = f"{type(e).__name__}: {e}"
            # concurrent vacuum may drop a superseded MV file between a
            # live read's plan and its collect (Spark surfaces it as
            # FAILED_READ_FILE / KD001 cache invalidation); that is a
            # documented read-retry, not a wrong answer — anything else
            # is a failure. Pinned-snapshot reads are retention-
            # protected and never hit this.
            # "no snapshot for version": the reader's own at_version pin
            # raced a foreign flip mid-publication or the 32-version
            # retention churned under sustained multi-writer traffic —
            # a skipped iteration, not a parity violation
            retryable = ("FAILED_READ_FILE", "PATH_NOT_FOUND", "KD001",
                         "FileNotFoundException", "no snapshot for version")
            if any(t in full for t in retryable) and not final:
                self.conflicts += 1
            else:
                # on the FINAL quiesced call nothing is flipping or
                # vacuuming, so even a "retryable" class is a finding —
                # swallowing it would let invariant 5 pass without the
                # one guaranteed comparison ever running (the in-loop
                # iterations alone can satisfy comparisons >= 1)
                self.failures.append(
                    f"{'final ' if final else ''}reader exception: {full[:300]}"
                )

    def replay_history(self) -> int:
        """End-of-run time-travel: every recorded (version, answer)
        still in snapshot retention must re-read identically — kills
        and concurrent vacuums must never rewrite history."""
        retained = set(self.store.storage.versions())
        replayed = 0
        for v, rows in self.history:
            if v not in retained:
                continue
            got = self._rows(self.store.at_version(v), use_mv=True)
            replayed += 1
            if got != rows:
                self.failures.append(f"time-travel re-read of v{v} diverged from live read")
        return replayed


class _RestDriver:
    """Invariant-6 driver (round 10): the REST face runs THROUGH the
    kill loop. One driver-side thread owns ``soak_rest~`` (the worker
    fleet hammers soak_a/b/c in the SAME store root, so manifest
    flips, compactions, vacuums, and SIGKILLs are all foreign
    contention against this thread's commits) and drives
    PUT/PATCH/DELETE/GET plus the planner ``_aggregate`` route via
    RestFacade.handle, checking:

    - write-revision monotonicity: every successful write's
      ``revision`` header strictly exceeds the previous one (one
      static revision per document URI — foreign collections must
      never bleed into ours), and GET(path) returns EXACTLY the last
      written revision and body (read-your-write through the verb
      surface);
    - the aggregate route equals an independent in-memory SHADOW
      model of the collection — count/sum/min/max per (key, day)
      recomputed client-side from the bodies this thread wrote — so
      ingest, rollup refresh classification, planner routing, and
      HAL serialization are checked end-to-end against something that
      never touched the store;
    - routing headers stay legal (aggregate-source ∈ {rollup, base},
      observed refresh modes recorded for the report).
    """

    _RETRYABLE = ("FAILED_READ_FILE", "PATH_NOT_FOUND", "KD001",
                  "FileNotFoundException", "no snapshot for version",
                  "ManifestConflict")

    def __init__(self, store, spark):
        from hyper_storage_spark.rest import RestFacade

        # streams read-back surface (r12): a corpus-stats and a
        # heavy-hitters state dir built ONCE here (uncontended, before
        # the kill loop — the registration discipline), then read
        # through `_streams` concurrently with the writer fleet +
        # SIGKILLs; the answers are constants, so any drift under fire
        # is a finding
        self.spark = spark
        self._streams_root = os.path.join(store.storage.root, "_soak_streams")
        cs = os.path.join(self._streams_root, "cs")
        hh = os.path.join(self._streams_root, "hh")
        from hyper_storage_spark.operators import dedup as _dd
        from hyper_storage_spark.operators import sketches as _sk

        _dd.streaming_corpus_stats(cs, run_id="soak")(
            spark.createDataFrame(
                [(i, f"soak text {i}", "en" if i % 2 else "fr") for i in range(40)],
                "doc_id long, text string, lang string",
            ),
            0,
        )
        _sk.streaming_heavy_hitters(hh, "v", phi=0.2, run_id="soak")(
            spark.createDataFrame([("whale",)] * 60 + [(f"u{i}",) for i in range(20)],
                                  "v string"),
            0,
        )
        self.facade = RestFacade(store, streams={"cs": cs, "hh": hh})
        self.streams_checks = 0
        self.rng = random.Random(20241010)
        self.uri = "soak_rest~"
        self.items = [f"r{i:02d}" for i in range(12)]
        self.shadow: dict[str, dict] = {}
        self.item_rev: dict[str, int] = {}
        self.last_write_rev = 0
        self.failures: list[str] = []
        self.ops = 0
        self.agg_checks = 0
        self.retries = 0
        self.modes: dict[str, int] = {}
        self.txn_checks = 0
        self.ddl_cycles = 0
        # a permanent seed row (never patched/deleted) keeps the
        # aggregate non-degenerate even if every rotating item is
        # deleted at once; registration before the kill loop, like
        # the rollup reader's
        seed = f"{self.uri}/seed"
        resp = self.facade.handle("PUT", seed, self._body())
        # a failed seed write must surface as a recorded REST failure,
        # not a KeyError that aborts run_soak before workers spawn
        if resp.status // 100 != 2 or "revision" not in resp.headers:
            self.failures.append(f"seed PUT failed: status={resp.status}")
        else:
            self.shadow[seed] = dict(self._last_body)
            self._bump(seed, int(resp.headers["revision"]))
        store.create_rollup(
            self.uri, "ts", ["b"], "a", resolution="day", schema=SOAK_SCHEMA,
            rollup_id="soak-rest-rollup",
        )

    def _body(self) -> dict:
        self._last_body = {
            "a": self.rng.randint(0, 99), "b": f"w{self.rng.randint(0, 3)}",
            "n": self.rng.random(),
            "ts": f"2024-01-{self.rng.randint(1, 9):02d} {self.rng.randint(0, 23):02d}:00:00",
        }
        return dict(self._last_body)

    def _bump(self, path: str, rev: int) -> None:
        if rev <= self.last_write_rev:
            self.failures.append(
                f"rest revision not monotonic: {path} got {rev} after {self.last_write_rev}"
            )
        self.last_write_rev = rev
        self.item_rev[path] = rev

    def _one_write(self) -> None:
        item = self.rng.choice(self.items)
        path = f"{self.uri}/{item}"
        roll = self.rng.random()
        if roll < 0.6 or path not in self.shadow:
            b = self._body()
            resp = self.facade.handle("PUT", path, dict(b))
            if resp.status not in (200, 201):
                self.failures.append(f"PUT {path} -> {resp.status}: {resp.body}")
                return
            self._bump(path, int(resp.headers["revision"]))
            self.shadow[path] = b
        elif roll < 0.85:
            newa = self.rng.randint(100, 199)
            resp = self.facade.handle("PATCH", path, {"a": newa})
            if resp.status == 409:
                self.retries += 1
                return
            if resp.status != 200:
                self.failures.append(f"PATCH {path} -> {resp.status}: {resp.body}")
                return
            self._bump(path, int(resp.headers["revision"]))
            self.shadow[path]["a"] = newa
        else:
            resp = self.facade.handle("DELETE", path)
            if resp.status == 409:
                self.retries += 1
                return
            if resp.status != 200:
                self.failures.append(f"DELETE {path} -> {resp.status}: {resp.body}")
                return
            self._bump(path, int(resp.headers["revision"]))
            self.shadow.pop(path)
        self.ops += 1
        # transaction-status route (r11): every write's transactionId
        # must resolve to a 200 whose revision matches the header —
        # the feed-lookup face under the same chaos as the writes
        tid = (resp.body or {}).get("transactionId")
        if tid is None:
            self.failures.append(f"write {path} returned no transactionId")
        elif self.rng.random() < 0.3:
            t = self.facade.handle("GET", f"_transactions/{tid}")
            if t.status != 200:
                self.failures.append(f"txn {tid} -> {t.status}, want 200")
            elif t.body["revision"] != self.item_rev[path]:
                self.failures.append(
                    f"txn {tid} revision {t.body['revision']} != "
                    f"write header {self.item_rev[path]}"
                )
            else:
                self.txn_checks += 1
        # read-your-write through the verb surface
        g = self.facade.handle("GET", path)
        if path in self.shadow:
            if g.status != 200:
                self.failures.append(f"GET {path} after write -> {g.status}")
            elif int(g.headers["revision"]) != self.item_rev[path]:
                self.failures.append(
                    f"GET {path} revision {g.headers['revision']} != "
                    f"last write {self.item_rev[path]}"
                )
            elif any(g.body.get(k) != self.shadow[path][k] for k in ("a", "b", "ts")):
                self.failures.append(f"GET {path} body diverged from write: {g.body}")
        elif g.status != 404:
            self.failures.append(f"GET deleted {path} -> {g.status}, want 404")

    def _check_aggregate(self, final: bool) -> None:
        resp = self.facade.handle(
            "GET", f"{self.uri}/_aggregate",
            ts_field="ts", key_fields="b", value_field="a",
            resolution="day", schema=SOAK_SCHEMA,
        )
        if resp.status == 409:
            self.retries += 1
            return
        if resp.status != 200:
            self.failures.append(f"aggregate -> {resp.status}: {resp.body}")
            return
        src = resp.headers.get("aggregate-source")
        if src not in ("rollup", "base"):
            self.failures.append(f"aggregate-source {src!r} not in the legal set")
        mode = resp.headers.get("rollup-refresh", src)
        self.modes[mode] = self.modes.get(mode, 0) + 1
        exp: dict[tuple, list] = {}
        for b in self.shadow.values():
            key = (b["b"], b["ts"][:10] + " 00:00:00")
            e = exp.setdefault(key, [0, 0, None, None])
            e[0] += 1
            e[1] += b["a"]
            e[2] = b["a"] if e[2] is None else min(e[2], b["a"])
            e[3] = b["a"] if e[3] is None else max(e[3], b["a"])
        expf = {k: (n, float(t), float(mn), float(mx)) for k, (n, t, mn, mx) in exp.items()}
        got = {
            (el["b"], el["bucket_start"]): (el["n"], el["total"], el["vmin"], el["vmax"])
            for el in resp.body["_embedded"]["els"]
        }
        if got != expf:
            only_g = {k: v for k, v in got.items() if expf.get(k) != v}
            only_e = {k: v for k, v in expf.items() if got.get(k) != v}
            self.failures.append(
                f"{'final ' if final else ''}aggregate != shadow model: "
                f"served {dict(list(only_g.items())[:3])} vs expected "
                f"{dict(list(only_e.items())[:3])}"
            )
        else:
            self.agg_checks += 1

    def _ddl_cycle(self) -> None:
        """One index-DDL lifecycle through the REST face (r11 routes):
        POST → 201 + serving GET, duplicate POST → 409, DELETE → 204 →
        404 — run concurrently with the kill loop and the writer fleet,
        so a crash mid-backfill must never leave the route surface
        inconsistent with the def table."""
        r = self.facade.handle(
            "POST", f"{self.uri}/_indexes",
            {"indexId": "soak_ddl", "sortBy": [{"fieldName": "b"}]},
        )
        if r.status not in (201, 409):  # 409: a previous cycle's delete lost a race
            self.failures.append(f"index POST -> {r.status}: {r.body}")
            return
        g = self.facade.handle("GET", f"{self.uri}/_indexes/soak_ddl")
        if g.status != 200 or g.body["status"] not in ("NORMAL", "INDEXING"):
            self.failures.append(f"index GET -> {g.status}: {g.body}")
            return
        dup = self.facade.handle(
            "POST", f"{self.uri}/_indexes",
            {"indexId": "soak_ddl", "sortBy": []},
        )
        if dup.status != 409:
            self.failures.append(f"duplicate index POST -> {dup.status}, want 409")
        d = self.facade.handle("DELETE", f"{self.uri}/_indexes/soak_ddl")
        if d.status != 204:
            self.failures.append(f"index DELETE -> {d.status}: {d.body}")
            return
        if self.facade.handle("GET", f"{self.uri}/_indexes/soak_ddl").status != 404:
            self.failures.append("index GET after DELETE != 404")
            return
        self.ddl_cycles += 1

    def _check_streams(self) -> None:
        """The `_streams` routes must answer with the EXACT constants
        the state dirs were committed with — no writer ever touches
        them, so drift (or a non-200, or a wrong 404) under the kill
        loop is a finding."""
        ls = self.facade.handle("GET", "_streams")
        if ls.status != 200 or ls.body != {"streams": ["cs", "hh"]}:
            self.failures.append(f"streams list -> {ls.status}: {ls.body}")
            return
        r = self.facade.handle("GET", "_streams/cs/corpus-stats")
        if r.status != 200:
            self.failures.append(f"streams corpus-stats -> {r.status}: {r.body}")
            return
        got = {s["lang"]: s["n_docs"] for s in r.body["stats"]}
        if got != {"en": 20, "fr": 20}:
            self.failures.append(f"streams corpus-stats drifted: {got}")
            return
        h = self.facade.handle("GET", "_streams/hh/heavy-hitters")
        if h.status != 200 or "whale" not in {x["value"] for x in h.body["heavy_hitters"]}:
            self.failures.append(f"streams heavy-hitters -> {h.status}: {h.body}")
            return
        if self.facade.handle("GET", "_streams/ghost/corpus-stats").status != 404:
            self.failures.append("streams unknown name != 404")
            return
        self.streams_checks += 1

    def step(self, final: bool = False) -> None:
        try:
            if not final:
                self._one_write()
                if self.rng.random() < 0.08:
                    self._ddl_cycle()
                if self.rng.random() < 0.15:
                    self._check_streams()
            if final or self.rng.random() < 0.34:
                self._check_aggregate(final)
                if final:
                    self._check_streams()
        except Exception as e:  # noqa: BLE001 — a REST crash is a finding
            full = f"{type(e).__name__}: {e}"
            if any(t in full for t in self._RETRYABLE) and not final:
                self.retries += 1
            else:
                # final=True runs quiesced: nothing is flipping, so
                # even retryable classes are findings (same rule as
                # the rollup reader's final check)
                self.failures.append(
                    f"rest {'final ' if final else ''}exception: {full[:300]}"
                )


INDEXED_URI, INDEX_ID = "soak_b~", "soak_hot"


def _index_rows(rows) -> list:
    """Index rows as comparable tuples (None rows, i.e. non-members, skipped)."""
    keys = ("item_id", "revision", "body", "d0")
    return sorted(tuple(r.get(k) for k in keys) for r in rows if r)


def run_soak(
    root: str, procs: int, threads: int, seconds: int, kill_every: float, spark=None
) -> dict:
    from hyper_storage_spark.plans import SortItem
    from hyper_storage_spark.store import DocumentStore
    from hyper_storage_spark.store.documents import CONTENT, FEED, STATICS

    # init manifest; the invariant-7 index exists before any writer
    DocumentStore(root).create_index(INDEXED_URI, INDEX_ID, [SortItem("a", "decimal", "desc")], "a > 50")
    rng = random.Random(4242)

    def spawn(wid: int):
        return subprocess.Popen(
            [sys.executable, "-c", WORKER, root, str(wid), str(seconds), str(threads),
             os.path.dirname(os.path.dirname(os.path.abspath(__file__)))],
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        )

    # rollup reader (invariant 5) registers its def BEFORE the writer
    # fleet spawns — registration is uncontended; everything after
    # runs concurrent with the kill loop
    reader = None
    rthread = None
    rest_driver = None
    rest_thread = None
    if spark is not None:
        import threading

        reader = _RollupReader(DocumentStore(root, spark=spark), spark)
        rest_driver = _RestDriver(DocumentStore(root, spark=spark), spark)
        read_stop = time.time() + seconds - 2

        def _read_loop():
            while time.time() < read_stop:
                reader.check_once()
                time.sleep(0.3)

        def _rest_loop():
            while time.time() < read_stop:
                rest_driver.step()
                time.sleep(0.2)

        rthread = threading.Thread(target=_read_loop)
        rthread.start()
        rest_thread = threading.Thread(target=_rest_loop)
        rest_thread.start()

    workers = {w: spawn(w) for w in range(procs)}
    deadline = time.time() + seconds
    kills = 0
    while time.time() < deadline - 2:
        time.sleep(kill_every)
        w = rng.choice(list(workers))
        p = workers[w]
        if p.poll() is None:
            p.send_signal(signal.SIGKILL)  # mid-write, no cleanup
            p.wait()
            kills += 1
            workers[w] = spawn(w)  # respawn: fresh process, same root
    if rthread is not None:
        rthread.join(timeout=seconds + 60)
    if rest_thread is not None:
        rest_thread.join(timeout=seconds + 60)
    errs = []
    for w, p in workers.items():
        try:
            _, err = p.communicate(timeout=seconds + 60)
            if p.returncode not in (0, -9) and err:
                errs.append(err.decode()[:300])
        except subprocess.TimeoutExpired:
            p.kill()
            errs.append(f"worker {w} hung")

    # ---- invariant sweep on a FRESH handle ------------------------------
    store = DocumentStore(root)
    failures: list[str] = []

    statics = {r["document_uri"]: r for r in store.storage.all_rows(STATICS)
               if r["document_uri"].startswith("soak_")}
    feed = [r for r in store.storage.all_rows(FEED) if r["document_uri"].startswith("soak_")]
    content = [r for r in store.storage.all_rows(CONTENT)
               if r["document_uri"].startswith("soak_") and r["item_id"]]

    ops_logged = 0
    op_exceptions: list[dict] = []
    logged: dict[str, list[dict]] = {}
    for fname in os.listdir(root):
        if fname.startswith("_soak_log_"):
            for line in open(os.path.join(root, fname)):
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue  # torn final line from a SIGKILL — expected
                if e["op"] == "exception":
                    op_exceptions.append(e)
                    continue
                coll = e["path"].rsplit("/", 1)[0]
                logged.setdefault(coll, []).append(e)
                ops_logged += 1

    for uri, s in statics.items():
        r_max = s["revision"]
        # index-DDL events (feed:indexpost/feed:indexdelete) carry
        # revision 0 BY DESIGN — they are lifecycle CDC, not content
        # writes, and must not trip the content gapless check
        feed_revs = sorted({
            f["revision"]
            for f in feed
            if f["document_uri"] == uri and not f["method"].startswith("feed:index")
        })
        # 1. gapless: distinct feed revisions are exactly 1..R
        if feed_revs != list(range(1, r_max + 1)):
            missing = sorted(set(range(1, r_max + 1)) - set(feed_revs))[:10]
            extra = sorted(set(feed_revs) - set(range(1, r_max + 1)))[:10]
            failures.append(f"{uri}: feed revisions not gapless 1..{r_max} "
                            f"(missing {missing}, extra {extra})")
        # 2. parity: every live content row's write is published
        feed_pairs = {(f["item_id"], f["revision"]) for f in feed if f["document_uri"] == uri}
        for c in content:
            if c["document_uri"] != uri or c["is_deleted"]:
                continue
            if (c["item_id"], c["revision"]) not in feed_pairs:
                failures.append(f"{uri}/{c['item_id']}: content rev {c['revision']} unpublished")
        c_max = max((c["revision"] for c in content if c["document_uri"] == uri), default=0)
        if c_max > r_max:
            failures.append(f"{uri}: content rev {c_max} beyond static {r_max}")
        # 3. log lower bound
        for e in logged.get(uri, []):
            item = e["path"].rsplit("/", 1)[1]
            if (item, e["rev"]) not in feed_pairs:
                failures.append(f"logged {e['op']} {e['path']} rev {e['rev']} missing from feed")

    # 4a. no dangling manifest references
    manifest = store.storage._read_manifest()
    for table, buckets in manifest["tables"].items():
        for rel in buckets.values():
            # commits with files= (MV flips, bulk ingests) register LISTS
            # of files per bucket; row commits register one path
            for r in rel if isinstance(rel, list) else [rel]:
                if not os.path.exists(os.path.join(root, r)):
                    failures.append(f"manifest references missing file {r}")
    # 4b. every logged transaction id resolves to its op
    txns_resolved = 0
    for e in (e for es in logged.values() for e in es if e.get("txn")):
        try:
            t = store.get_transaction(e["txn"])
        except KeyError:
            failures.append(f"logged {e['op']} {e['path']} txn {e['txn']} does not resolve")
            continue
        if (t["path"], t["revision"], t["method"]) != (e["path"], e["rev"], f"feed:{e['op']}"):
            failures.append(
                f"txn {e['txn']} resolves to {t['path']} rev {t['revision']}, "
                f"logged {e['path']} rev {e['rev']}"
            )
        txns_resolved += 1
    # 5. rollup read parity: the quiesced final refresh+compare MUST
    # hold (no writer races left to excuse a skip), and every retained
    # historical answer must re-read identically — both BEFORE the
    # closing vacuum, so 4c also proves vacuum kept what they reference
    replayed = 0
    if reader is not None:
        reader.check_once(final=True)
        replayed = reader.replay_history()
        failures.extend(reader.failures)
    # 6. REST face (round 10): the final quiesced aggregate-vs-shadow
    # comparison must hold, same rule as the rollup reader's
    if rest_driver is not None:
        rest_driver.step(final=True)
        failures.extend(rest_driver.failures)
    # 7. index delta atomicity: merged index rows == a rebuild
    idef = next(d for d in store.index_defs(INDEXED_URI) if d.index_id == INDEX_ID)
    merged = _index_rows(store.storage.bucket_rows(idef.storage_table, 0))
    rebuilt = _index_rows((
        store._index_row(idef, c)
        for c in store.storage.bucket_rows(CONTENT, store._bucket(INDEXED_URI))
        if c["document_uri"] == INDEXED_URI and c["item_id"]
    ))
    if merged != rebuilt:
        diff = sorted(set(merged) ^ set(rebuilt))[:5]
        failures.append(f"{INDEXED_URI} index {INDEX_ID}: merged rows differ from a rebuild at {diff}")
    index_files = len(store.storage.bucket_files(idef.storage_table, 0))
    # 4c. closing vacuum keeps state readable
    before = {(c["document_uri"], c["item_id"], c["revision"]) for c in content}
    removed = store.vacuum(grace_seconds=0.0, keep_versions=0)
    after = {
        (c["document_uri"], c["item_id"], c["revision"])
        for c in store.storage.all_rows(CONTENT)
        if c["document_uri"].startswith("soak_") and c["item_id"]
    }
    if before != after:
        failures.append("vacuum changed live state")

    out = {
        "procs": procs, "threads": threads, "seconds": seconds, "kills": kills,
        "ops_logged": ops_logged,
        "txns_resolved": txns_resolved,
        "revisions": {u: s["revision"] for u, s in statics.items()},
        "vacuum_removed": removed,
        "index_rows": len(merged),
        "index_files": index_files,
        "worker_errors": errs,
        "op_exceptions": op_exceptions[:20],
        "n_op_exceptions": len(op_exceptions),
        "failures": failures,
        "ok": not failures and not errs and not op_exceptions,
    }
    if reader is not None:
        out["rollup_reader"] = {
            "comparisons": reader.comparisons,
            "stale_skips": reader.stale_skips,
            "cas_conflicts_retried": reader.conflicts,
            "refresh_modes": reader.modes,
            "history_replayed": replayed,
        }
    if rest_driver is not None:
        out["rest_driver"] = {
            "writes": rest_driver.ops,
            "aggregate_checks": rest_driver.agg_checks,
            "retries": rest_driver.retries,
            "last_revision": rest_driver.last_write_rev,
            "routes": rest_driver.modes,
            "txn_checks": rest_driver.txn_checks,
            "ddl_cycles": rest_driver.ddl_cycles,
            "streams_checks": rest_driver.streams_checks,
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--procs", type=int, default=4)
    ap.add_argument("--threads", type=int, default=3)
    ap.add_argument("--seconds", type=int, default=45)
    ap.add_argument("--kill-every", type=float, default=4.0)
    ap.add_argument("--root", default=None)
    ap.add_argument("--no-spark", action="store_true",
                    help="skip the rollup-reader invariant (no Spark session)")
    args = ap.parse_args()
    root = args.root or tempfile.mkdtemp(prefix="soak_")
    spark = None
    if not args.no_spark:
        from hyper_storage_spark.session import get_spark

        spark = get_spark("soak_rollup_reader", cpus=8)
    out = run_soak(root, args.procs, args.threads, args.seconds, args.kill_every, spark=spark)
    print(json.dumps(out))
    sys.exit(0 if out["ok"] else 1)


if __name__ == "__main__":
    main()
