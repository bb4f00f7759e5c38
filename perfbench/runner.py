"""One workload run: set-up, warm-up, timed loop, checks, metrics.

A single client drives the store in a closed loop through
``RestFacade.handle``: it sends the next op only after the previous one
returned. Latency is timed around that call alone.
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import time
from typing import Any, Optional

import probe
import stats
import workload as wl
from model import Model, body_bytes, document_uri, first_difference, replay_commands
from tracing import SpanIndex, Tracer, dur, per_op, span_cost_s

# percentiles reported per op kind, and the sample floors they imply
# (only op kinds that both workloads run get a reported percentile:
# every workload must report every end-to-end metric)
PERCENTILES = {wl.GET: (0.5, 0.9), wl.WRITE: (0.5,), wl.DOC_WRITE: (0.5,)}
FLOORS = {k: stats.min_samples(max(qs)) for k, qs in PERCENTILES.items()}
# store builds per run, each in a fresh root; setup_s is their median
SETUPS = 3
# probes run before and after each store build to scale its time
SETUP_PROBES = 15

BULK_SCHEMA = (
    "id string, price long, score long, a long, tag string, name string, "
    "payload string, meta struct<v:long,src:string>, note string"
)


class Result:
    """What a loop observed, op by op, in execution order."""

    def __init__(self):
        self.records: list[tuple[wl.Op, Any, Optional[str]]] = []  # (op, response, error)
        self.wall_ms: list[float] = []
        self.probe_ms: list[float] = []

    def by_kind(self, scaled: bool = True) -> dict[str, list[float]]:
        """Latencies per op kind: scaled to the reference host speed
        (see probe.py), or as wall-clock ms."""
        lat = probe.scale(self.wall_ms, self.probe_ms) if scaled else self.wall_ms
        out: dict[str, list[float]] = collections.defaultdict(list)
        for (op, _resp, _err), v in zip(self.records, lat):
            out[op.kind].append(v)
        return out


def execute(rest, ds, op: wl.Op):
    if op.kind == wl.MAINT:
        ds.compact_appends()
        return ds.vacuum(grace_seconds=0)
    if op.method == "GET":
        return rest.handle("GET", op.path, **op.params)
    if op.method == "DELETE":
        return rest.handle("DELETE", op.path)
    return rest.handle(op.method, op.path, op.body)


class WorkloadRun:
    def __init__(self, spec: wl.Spec, seed: int, seconds: float, trace: bool,
                 work_dir: str, spark):
        self.spec, self.seed, self.seconds, self.trace = spec, seed, seconds, trace
        self.work_dir, self.spark = work_dir, spark
        self.pre = wl.preload(spec, seed)
        self.tracer = Tracer() if trace else None
        self.failures: list[str] = []
        self.phases: dict[str, float] = {}
        self.build_phases: list[dict] = []

    # -- set-up --------------------------------------------------------------

    def build_store(self, root: str):
        from hyper_storage_spark.rest import RestFacade
        from hyper_storage_spark.store import DocumentStore
        from hyper_storage_spark.plans import SortItem

        spec, pre, spark = self.spec, self.pre, self.spark
        ds = DocumentStore(root, spark=spark, n_buckets=wl.N_BUCKETS)
        rest = RestFacade(ds)
        phases = {}
        items = [(p, b) for p, b in pre.items.items()]
        t = time.perf_counter()
        if spec.bulk_items:
            rows = [dict(b, id=p.rsplit("/", 1)[1]) for p, b in items]
            ds.ingest_collection(
                spark.createDataFrame(rows[: spec.bulk_items], BULK_SCHEMA), wl.COLLECTION, "id"
            )
            phases["bulk_load_s"] = time.perf_counter() - t
            t = time.perf_counter()
            ds.merge_collection(
                spark.createDataFrame(rows[spec.bulk_items:], BULK_SCHEMA), wl.COLLECTION, "id"
            )
            phases["bulk_merge_s"] = time.perf_counter() - t
        else:
            self._check_batch(ds.write_batch([("put", p, b) for p, b in items]))
            phases["bulk_load_s"] = time.perf_counter() - t
        t = time.perf_counter()
        if spec.stream_commands:
            from hyper_storage_spark.streaming.ingest import run_command_stream, write_commands

            commands_dir, checkpoint = root + "-commands", root + "-checkpoint"
            # eight log files, so the stream's maxFilesPerTrigger of 4
            # makes two micro-batches
            per_file = -(-len(pre.commands) // 8)
            for k in range(0, len(pre.commands), per_file):
                write_commands(commands_dir, pre.commands[k:k + per_file])
            run_command_stream(spark, ds, commands_dir, checkpoint, available_now=True)
            phases["stream_s"] = time.perf_counter() - t
        else:
            docs = list(pre.docs.items())
            for k in range(0, len(docs), 500):
                self._check_batch(ds.write_batch([("put", p, b) for p, b in docs[k:k + 500]]))
            phases["doc_load_s"] = time.perf_counter() - t
        t = time.perf_counter()
        for idx in wl.INDEXES:
            if spec.bulk_items and idx["indexId"] == "hot":
                # the distributed backfill collections above 10,000 rows take
                ds.create_index(
                    wl.COLLECTION, idx["indexId"],
                    [SortItem(s["fieldName"], s["fieldType"], s.get("order")) for s in idx["sortBy"]],
                    filter_by=idx.get("filterBy"), use_spark=True,
                )
            else:
                r = rest.handle("POST", wl.COLLECTION + "/_indexes", idx)
                if r.status != 201:
                    raise RuntimeError(f"index {idx['indexId']}: {r.status} {r.body}")
        phases["index_build_s"] = time.perf_counter() - t
        return ds, rest, phases

    @staticmethod
    def _check_batch(outcomes) -> None:
        bad = [o for o in outcomes if isinstance(o, BaseException)]
        if bad:
            raise RuntimeError(f"preload write failed: {bad[0]!r}")

    def setup(self):
        """Build the store SETUPS times, each in a fresh root,
        and keep the last one (traced in a traced run). Returns (ds,
        rest, [wall seconds per build], [scaled seconds per build]):
        each build's time scaled by the probes run just before and after
        it, as op latencies are."""
        wall, scaled = [], []
        built = None
        for i in range(SETUPS):
            if built is not None:
                self._remove_store(built[0].storage.root)
            root = os.path.join(self.work_dir, f"store{i}")
            traced = self.tracer is not None and i == SETUPS - 1
            if traced:
                self.tracer.install(self.spark)
            probes = [probe.run() for _ in range(SETUP_PROBES)]
            t = time.perf_counter()
            try:
                built = self.build_store(root)
            finally:
                if traced:
                    self.tracer.unwrap_all()
            wall.append(time.perf_counter() - t)
            probes += [probe.run() for _ in range(SETUP_PROBES)]
            scaled.append(wall[-1] * probe.REFERENCE_MS / stats.median(probes))
            self.build_phases.append(built[2])
        ds, rest, self.phases = built
        return ds, rest, wall, scaled

    @staticmethod
    def _remove_store(root: str) -> None:
        for p in (root, root + "-commands", root + "-checkpoint"):
            shutil.rmtree(p, ignore_errors=True)

    def initial_model(self) -> Model:
        bodies = {p: dict(b, id=p.rsplit("/", 1)[1]) for p, b in self.pre.items.items()}
        if self.spec.stream_commands:
            docs = replay_commands(self.pre.commands)
            # ingest_collection lands at revision 1, merge_collection bumps once
            revisions = {wl.COLLECTION: 2, **docs.revisions}
            bodies.update(docs.bodies)
        else:
            bodies.update(self.pre.docs)
            revisions = {wl.COLLECTION: len(self.pre.items), **{p: 1 for p in self.pre.docs}}
        return Model(bodies, revisions)

    # -- the loop ------------------------------------------------------------

    def loop(self, rest, ds, seq, res: Result, n_ops: int, traced: bool) -> float:
        """Run the next ``n_ops`` ops of the sequence (plus the re-create
        PUT when the count ends on a DELETE), each after a host-speed
        probe. Returns the wall seconds of the loop."""
        tr = self.tracer if traced else None
        t0 = time.perf_counter()
        n = 0
        while True:
            op = next(seq)
            group = None
            if tr is not None and op.kind in (wl.QUERY, wl.SCAN):
                group = f"op-{len(res.records)}"
                self.spark.sparkContext.setJobGroup(group, op.shape, False)
            p = probe.run()
            w0 = stats.wchar() if tr is not None else 0
            span = tr.open("op", kind=op.kind, method=op.method, shape=op.shape) if tr else None
            err = None
            t = time.perf_counter()
            try:
                resp = execute(rest, ds, op)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                resp, err = None, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t
            if tr is not None:
                tr.close(span)
                span["wchar"] = stats.wchar() - w0
                span["user_bytes"] = body_bytes(op.body) if op.body is not None else 0
                span["group"] = group
                if op.kind == wl.MAINT and isinstance(resp, int):
                    span["reclaimed"] = resp
            res.records.append((op, resp, err))
            res.wall_ms.append(dt * 1000.0)
            res.probe_ms.append(p)
            n += 1
            if n >= n_ops and not op.pair_first:
                return time.perf_counter() - t0

    # -- checks --------------------------------------------------------------

    def check_state(self, ds, model: Model, where: str) -> None:
        from hyper_storage_spark.store.documents import CONTENT, STATICS

        live = {}
        for r in ds.storage.all_rows(CONTENT):
            if r["is_deleted"] or (r["document_uri"] == wl.COLLECTION and not r["item_id"]):
                continue
            path = f"{r['document_uri']}/{r['item_id']}" if r["item_id"] else r["document_uri"]
            live[path] = json.loads(r["body"]) if r["body"] is not None else None
        diff = first_difference(model.bodies, live)
        if diff:
            self.failures.append(f"{where}: stored bodies differ from the model at {diff}")
        revs = {r["document_uri"]: r["revision"] for r in ds.storage.all_rows(STATICS)}
        diff = first_difference(model.revisions, {u: revs.get(u) for u in model.revisions})
        if diff:
            self.failures.append(f"{where}: revisions differ from the model at {diff}")
        for idef in ds.index_defs(wl.COLLECTION):
            rows = ds.storage.bucket_rows(idef.storage_table, 0)
            got = {r["item_id"]: json.loads(r["body"]) for r in rows}
            diff = first_difference(model.expect_index(idef.index_id), got)
            if diff:
                self.failures.append(f"{where}: index {idef.index_id} differs at {diff}")

    def replay(self, model: Model, res: Result) -> tuple[int, list]:
        """Replay every executed op on the model; returns (failed ops,
        acknowledged writes as feed keys)."""
        failed = 0
        acks = []
        for op, resp, err in res.records:
            problem = err
            if problem is None and op.kind == wl.MAINT:
                pass
            elif problem is None and op.method == "GET" and op.kind == wl.GET:
                body, rev = model.expect_get(op.path)
                if resp.status != 200 or resp.body != body or resp.headers.get("revision") != str(rev):
                    problem = f"GET {op.path}: {resp.status} rev {resp.headers.get('revision')} (model rev {rev})"
            elif problem is None and op.method == "GET":
                want = model.expect_query(op)
                got = resp.body["_embedded"]["els"] if resp.status == 200 else None
                if got != want:
                    problem = f"{op.shape} query {op.params}: {resp.status}, {len(got or [])} items differ from the model's {len(want)}"
            elif problem is None:
                status, rev = model.expect_write(op)
                if resp.status != status or resp.headers.get("revision") != str(rev):
                    problem = f"{op.method} {op.path}: {resp.status} rev {resp.headers.get('revision')}, expected {status} rev {rev}"
                else:
                    uri = document_uri(op.path)
                    item = op.path[len(uri) + 1:] if uri != op.path else ""
                    acks.append((uri, item, rev, "feed:" + op.method.lower()))
            if problem is not None:
                failed += 1
                if len(self.failures) < 20:
                    self.failures.append(problem)
                if err is not None and op.kind not in (wl.GET, wl.QUERY, wl.SCAN, wl.MAINT):
                    # keep the model in step with what the store may hold
                    try:
                        model.expect_write(op)
                    except (KeyError, ValueError):
                        pass
        return failed, acks

    def check_feed(self, before: collections.Counter, ds, acks: list) -> float:
        new = self.feed_keys(ds) - before
        missing = collections.Counter(acks) - new
        extra = new - collections.Counter(acks)
        if missing or extra:
            self.failures.append(
                f"feed: {sum(missing.values())} acknowledged writes without an event, "
                f"{sum(extra.values())} events without an acknowledged write"
            )
        return sum(new.values()) / len(acks) if acks else 0.0

    @staticmethod
    def feed_keys(ds) -> collections.Counter:
        return collections.Counter(
            (e["document_uri"], e["item_id"], e["revision"], e["method"]) for e in ds.feed_events()
        )

    # -- whole run -------------------------------------------------------------

    def run(self) -> dict:
        ds, rest, setup_wall, setup_times = self.setup()
        model = self.initial_model()
        self.check_state(ds, model, "after set-up")
        feed_before = self.feed_keys(ds)

        seq = wl.sequence(self.spec, self.seed)
        res = Result()
        warm = Result()
        t_warm = time.perf_counter()
        for op in wl.take(seq, wl.warmup_length(self.spec)):
            try:
                warm.records.append((op, execute(rest, ds, op), None))
            except Exception as e:  # noqa: BLE001
                warm.records.append((op, None, f"{type(e).__name__}: {e}"))
        warmup_s = time.perf_counter() - t_warm
        n_ops = self.spec.ops_for(self.seconds)
        if self.trace:
            untraced = Result()
            self.loop(rest, ds, seq, untraced, n_ops // 2, traced=False)
            self.tracer.install(self.spark)
            try:
                loop_s = self.loop(rest, ds, seq, res, n_ops - n_ops // 2, traced=True)
            finally:
                self.tracer.unwrap_all()
            timed = [untraced, res]
        else:
            loop_s = self.loop(rest, ds, seq, res, n_ops, traced=False)
            timed = [res]
            self.check_floors(res)

        t_check = time.perf_counter()
        failed, acks = self.replay(model, warm)
        attempted = len(warm.records)
        for r in timed:
            f, a = self.replay(model, r)
            failed += f
            acks += a
            attempted += len(r.records)
        events_per_write = self.check_feed(feed_before, ds, acks)
        self.check_state(ds, model, "after the loop")
        check_s = time.perf_counter() - t_check

        out = {"attempted": attempted, "failed": failed}
        if self.trace:
            out["metrics"] = self.layer_metrics(ds, rest, untraced, res, events_per_write)
        else:
            out["metrics"] = self.e2e_metrics(ds, model, res, setup_times)
        out["correct"] = not self.failures and failed == 0
        scaled = res.by_kind()
        out["detail"] = {
            "failures": self.failures[:20],
            "samples": {k: len(v) for k, v in scaled.items()},
            "scaled_p50_ms": {k: stats.median(v) for k, v in scaled.items()},
            # share of the loop's scaled time each op kind takes
            "scaled_share": {k: sum(v) / sum(map(sum, scaled.values())) for k, v in scaled.items()},
            "wall_p50_ms": {k: stats.median(v) for k, v in res.by_kind(scaled=False).items()},
            "probe_p50_ms": stats.median(res.probe_ms),
            "boundary_ratio": {
                f"{k}_p{round(q * 100)}": stats.boundary_ratio(v, q)
                for k, qs in PERCENTILES.items() for q in qs
                if (v := scaled.get(k)) and len(v) > 2
            },
            "setup_wall_s": setup_wall,
            "setup_scaled_s": setup_times,
            "phases_s": self.build_phases,
            "warmup_s": warmup_s,
            "loop_s": loop_s,
            "check_s": check_s,
        }
        return out

    @staticmethod
    def final_maintenance(ds) -> None:
        """Compact the append logs and drop every file the current
        version does not reference, time-travel snapshots included:
        which buckets the snapshots pin depends on the last few writes
        of the run, so their bytes are not a steady quantity."""
        ds.compact_appends()
        ds.vacuum(grace_seconds=0, keep_versions=0)

    def check_floors(self, res: Result) -> None:
        counts = {k: len(v) for k, v in res.by_kind(scaled=False).items()}
        missing = wl.first_missing(counts, FLOORS)
        if missing:
            self.failures.append(
                f"{missing}: {counts.get(missing, 0)} samples, a reported percentile needs "
                f"{FLOORS[missing]}; run longer"
            )

    def e2e_metrics(self, ds, model, res: Result, setup_times) -> dict:
        m = {}
        m["setup_s"] = (stats.median(setup_times), "s")
        scaled = probe.scale(res.wall_ms, res.probe_ms)
        m["ops_per_s"] = (len(scaled) * 1000.0 / sum(scaled), "1/s")
        lat = res.by_kind()
        for kind, qs in PERCENTILES.items():
            for q in qs:
                try:
                    m[f"{kind}_p{round(q * 100)}_ms"] = (stats.percentile(lat[kind], q), "ms")
                except ValueError as e:
                    self.failures.append(f"{kind}: {e}")
        self.final_maintenance(ds)
        m["space_amplification"] = (
            stats.space_amplification(stats.tree_bytes(ds.storage.root), model.live_body_bytes()),
            "ratio",
        )
        m["peak_rss_mb"] = (stats.peak_rss_mb(), "MB")
        return m

    def layer_metrics(self, ds, rest, untraced: Result, traced: Result, events_per_write: float) -> dict:
        idx = SpanIndex(self.tracer.spans)
        under = idx.under
        ms = 1000.0
        gets, writes = idx.ops(wl.GET), idx.ops(wl.WRITE)
        all_writes = idx.ops(wl.WRITE, wl.DOC_WRITE)
        queries = idx.ops(wl.QUERY, wl.SCAN)
        paged = [s for s in queries if s["shape"] == "paged"]
        maint = idx.ops(wl.MAINT)

        def total(spans, key):
            return sum(s.get(key, 0) for s in spans)

        def self_ms(spans):
            return per_op(sum(idx.self_s[s["id"]] for s in spans), len(spans)) * ms

        m: dict[str, tuple[float, str]] = {}
        m["rest.self_ms"] = (self_ms(under(idx.ops(*wl.KINDS), "rest.handle")), "ms")
        write_calls = [s for s in under(writes, "documents.") if s["name"].endswith("_txn")]
        m["documents.write_self_ms"] = (
            per_op(sum(idx.time_outside(s, "storage.") for s in write_calls), len(write_calls)) * ms, "ms")
        files_w = under(writes, "storage.write_bucket_file")
        m["documents.index_rows_written_per_write"] = (
            per_op(sum(s["rows"] for s in files_w if s["index"]), len(writes)), "count")
        for name, ops in (("get", gets), ("write", writes)):
            reads = under(ops, "storage.bucket_rows")
            m[f"storage.rows_read_per_{name}"] = (per_op(total(reads, "rows"), len(ops)), "count")
            m[f"storage.read_ms_per_{name}"] = (per_op(dur(reads), len(ops)) * ms, "ms")
        m["storage.commits_per_write"] = (per_op(len(under(all_writes, "storage.flip")), len(all_writes)), "count")
        commits = under(all_writes, "storage.commit") + under(all_writes, "storage.append")
        m["storage.commit_ms_per_write"] = (per_op(dur(commits), len(all_writes)) * ms, "ms")
        files_all = under(all_writes, "storage.write_bucket_file")
        rows_written = total(files_all, "rows") + total(commits, "rows")
        m["storage.rows_written_per_write"] = (per_op(rows_written, len(all_writes)), "count")
        wbytes = total(all_writes, "wchar")
        m["storage.bytes_written_per_write"] = (per_op(wbytes, len(all_writes)), "B")
        ubytes = total(all_writes, "user_bytes")
        m["storage.write_amplification"] = (wbytes / ubytes if ubytes else 0.0, "ratio")
        m["storage.files_written_per_write"] = (
            per_op(total(files_all, "files") + total(commits, "files"), len(all_writes)), "count")
        m["storage.manifest_bytes"] = (float(os.path.getsize(os.path.join(ds.storage.root, "manifest.json"))), "B")
        m["maintenance.vacuum_ms"] = (per_op(dur(under(maint, "documents.vacuum")), len(maint)) * ms, "ms")
        m["maintenance.compact_ms"] = (per_op(dur(under(maint, "documents.compact_appends")), len(maint)) * ms, "ms")
        m["maintenance.files_reclaimed"] = (per_op(total(maint, "reclaimed"), len(maint)), "count")
        m["feed.events_per_write"] = (events_per_write, "count")

        # mean latency of the untraced half: no percentile, as a
        # half-length run holds too few queries for one
        lat = untraced.by_kind(scaled=False)
        m["query.latency_ms"] = (stats.mean_or_zero(lat.get(wl.QUERY, [])), "ms")
        m["query.scan_latency_ms"] = (stats.mean_or_zero(lat.get(wl.SCAN, [])), "ms")
        m["query.self_ms"] = (self_ms([s for s in under(queries, "documents.query")]), "ms")
        m["query.selects_per_paged_request"] = (per_op(len(under(paged, "spark.collect")), len(paged)), "count")
        returned = sum(len(resp.body["_embedded"]["els"]) for op, resp, err in traced.records
                       if op.kind in (wl.QUERY, wl.SCAN) and resp is not None and resp.status == 200)
        fetched = total(under(queries, "spark.collect"), "rows")
        m["query.rows_fetched_per_row_returned"] = (fetched / returned if returned else 0.0, "ratio")
        m["plans.plan_ms_per_query"] = (per_op(dur(under(queries, "plans.")), len(queries)) * ms, "ms")
        m["plans.index_hit_ratio"] = (self.index_hit_ratio(rest, traced), "ratio")
        m["expression.parse_ms_per_query"] = (per_op(dur(under(queries, "expression.parse")), len(queries)) * ms, "ms")
        m["expression.compile_ms_per_query"] = (per_op(dur(under(queries, "expression.compile")), len(queries)) * ms, "ms")
        m["spark.py4j_calls_per_query"] = (per_op(len(under(queries, "py4j.")), len(queries)), "count")
        jobs = 0
        if self.spark is not None:
            tracker = self.spark.sparkContext.statusTracker()
            jobs = sum(len(tracker.getJobIdsForGroup(s["group"])) for s in queries)
        m["spark.jobs_per_query"] = (per_op(jobs, len(queries)), "count")
        m["spark.collect_ms_per_query"] = (per_op(dur(under(queries, "spark.collect")), len(queries)) * ms, "ms")
        # a workload without collection queries runs no JVM: these read 0
        m["spark.session_start_s"] = (self.session_start_s, "s")
        m["jvm.peak_rss_mb"] = (stats.peak_rss_mb(str(self.jvm_pid)) if self.jvm_pid else 0.0, "MB")

        batches = [s for s in idx.spans if s["name"] == "ingest.batch"]
        m["ingest.batches"] = (float(len(batches)), "count")
        m["ingest.batch_ms"] = (per_op(dur(batches), len(batches)) * ms, "ms")
        batch_ids = {s["id"] for s in batches}
        flips = [s for s in idx.spans if s["name"] == "storage.flip" and s["parent"] is not None
                 and self._has_ancestor(idx, s, batch_ids)]
        m["ingest.flips_per_batch"] = (per_op(len(flips), len(batches)), "count")
        for key in ("stream_s", "bulk_load_s", "bulk_merge_s", "index_build_s"):
            m[f"ingest.{key}"] = (self.phases.get(key, 0.0), "s")

        m["trace.overhead_pct"] = (self.overhead_pct(idx, traced), "%")
        m["trace.spans"] = (float(len(idx.spans)), "count")
        return m

    @staticmethod
    def _has_ancestor(idx: SpanIndex, span: dict, ids: set) -> bool:
        p = span["parent"]
        while p is not None:
            if p in ids:
                return True
            p = idx.by_id[p]["parent"] if p in idx.by_id else None
        return False

    @staticmethod
    def index_hit_ratio(rest, traced: Result) -> float:
        """Share of the traced run's collection queries that the planner
        serves from an index, read through the REST explain route."""
        hits = total = 0
        for op, _resp, _err in traced.records:
            if op.kind not in (wl.QUERY, wl.SCAN):
                continue
            params = {k: v for k, v in op.params.items() if k in ("filter", "sort")}
            r = rest.handle("GET", wl.COLLECTION + "/_explain", **params)
            total += 1
            hits += r.status == 200 and r.body["index_id"] is not None
        return hits / total if total else 0.0

    @staticmethod
    def overhead_pct(idx: SpanIndex, traced: Result) -> float:
        """Time the wrappers added to the traced ops, as a share of
        those ops' wall time: the cost of one span, measured on a no-op
        in this process, times the spans recorded inside the ops. (The
        op spans themselves open and close outside the timed call.)"""
        inner = sum(1 for s in idx.spans if s["name"] != "op" and idx.root.get(s["id"]) is not None)
        wall_s = sum(traced.wall_ms) / 1000.0
        return span_cost_s() * inner / wall_s * 100.0 if wall_s else 0.0
