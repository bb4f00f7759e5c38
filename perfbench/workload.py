"""Seeded inputs: preload contents and the op sequence of each workload.

Everything here is a pure function of the seed. The program under test
only ever sees the generated paths, bodies and query parameters.

Both workloads keep their working set stationary: item writes overwrite
existing items, a deleted item is re-created by the very next op, and
documents are only ever replaced or patched. So the collection's
content bucket and index tables stay the same size for the whole run,
and latency does not drift with the number of ops executed.
"""

from __future__ import annotations

import bisect
import itertools
import random
import string
from dataclasses import dataclass, field
from typing import Any, Iterator, Optional

COLLECTION = "coll~"
ZIPF_S = 1.1
PAGE_SIZE = 20
TAGS = 10
# Index definitions, in the REST `_indexes` body shape. `hot` is the
# filtered index: only items with a > 50 are in it.
INDEXES = (
    {"indexId": "by_price", "sortBy": [{"fieldName": "price", "fieldType": "decimal"}]},
    {
        "indexId": "hot",
        "filterBy": "a > 50",
        "sortBy": [{"fieldName": "score", "fieldType": "decimal", "order": "desc"}],
    },
)

# Op kinds. Each has its own latency metrics; kinds whose costs differ
# are never pooled into one percentile.
GET, WRITE, DOC_WRITE, QUERY, SCAN, MAINT = "get", "write", "doc_write", "query", "scan", "maint"
KINDS = (GET, WRITE, DOC_WRITE, QUERY, SCAN, MAINT)


@dataclass
class Op:
    kind: str
    method: str  # GET PUT PATCH DELETE, or MAINT
    path: str = ""
    body: Any = None
    params: dict = field(default_factory=dict)  # REST query parameters
    shape: str = ""  # query shape: range | filtered | paged | scan
    args: tuple = ()  # the shape's parameters, for the model
    pair_first: bool = False  # a DELETE whose re-create PUT follows


@dataclass(frozen=True)
class Spec:
    name: str
    items: int
    docs: int
    # (op slot, slots per deck of 100); an "item_delete" slot emits
    # DELETE + PUT
    mix: tuple
    # maintenance op after this many writes (0 = never)
    maint_every: int
    # collection items loaded by ingest_collection; the rest arrive
    # through merge_collection (0 = per-item writes, no Spark bulk path)
    bulk_items: int
    # document commands fed through run_command_stream (0 = write_batch)
    stream_commands: int
    # extra random ops run untimed after the every-shape warm-up block
    warmup_random: int
    # ops per second of --seconds: a run executes a fixed number of ops,
    # --seconds times this, so every run of a seed walks the same
    # sequence through the same store states
    ops_per_second: int

    def ops_for(self, seconds: float) -> int:
        return max(1, round(seconds * self.ops_per_second))

    @property
    def needs_spark(self) -> bool:
        """Collection queries and the bulk/stream load paths run on
        Spark; a workload with none of them runs without a session."""
        return bool(self.bulk_items or self.stream_commands
                    or any(s.startswith("q_") or s == "scan" for s, _ in self.mix))


SPECS = {
    "crud": Spec(
        name="crud",
        items=1000,
        docs=2000,
        mix=(
            ("get_item", 22),
            ("get_doc", 21),
            ("item_patch", 17),
            ("item_put", 8),
            ("item_delete", 2),
            ("doc_put", 15),
            ("doc_patch", 15),
        ),
        maint_every=30,
        bulk_items=0,
        stream_commands=0,
        warmup_random=20,
        ops_per_second=40,
    ),
    "query_mix": Spec(
        name="query_mix",
        items=2000,
        docs=600,
        mix=(
            ("get_item", 27),
            ("get_doc", 24),
            ("item_patch", 12),
            ("doc_put", 8),
            ("doc_patch", 8),
            ("q_range", 8),
            ("q_filtered", 4),
            ("q_paged", 3),
            ("scan", 6),
        ),
        maint_every=0,
        bulk_items=1600,
        stream_commands=750,
        warmup_random=0,
        ops_per_second=18,
    ),
}

_ALPHA = string.ascii_lowercase + "     "
_SOURCES = ("web", "app", "batch", "sync")


def item_path(i: int) -> str:
    return f"{COLLECTION}/i{i:05d}"


def doc_path(i: int) -> str:
    return f"docs/d{i:05d}"


def _text(rng: random.Random, n: int) -> str:
    return "".join(rng.choices(_ALPHA, k=n))


def make_body(rng: random.Random) -> dict:
    """A 0.1-0.6 KB JSON body. price/score/a/tag are what the indexes
    and queries read; `note` is optional so patches can delete it."""
    body = {
        "price": rng.randrange(100_000),
        "score": rng.randrange(10_000),
        "a": rng.randrange(100),
        "tag": f"t{rng.randrange(TAGS)}",
        "name": _text(rng, 8).replace(" ", "x"),
        "payload": _text(rng, rng.randint(40, 420)),
        "meta": {"v": rng.randrange(1000), "src": rng.choice(_SOURCES)},
    }
    if rng.random() < 0.3:
        body["note"] = _text(rng, rng.randint(10, 40))
    return body


def make_patch(rng: random.Random) -> dict:
    """A merge-patch over top-level fields. A `None` value deletes the
    field. No patch carries an object value, because the store's PATCH
    is the reference's shallow merge, which agrees with RFC 7386 only
    for non-object values (see README.md)."""
    fields = rng.sample(("price", "score", "a", "tag", "note"), rng.randint(1, 3))
    patch: dict = {}
    for f in fields:
        if f == "price":
            patch[f] = rng.randrange(100_000)
        elif f == "score":
            patch[f] = rng.randrange(10_000)
        elif f == "a":
            patch[f] = rng.randrange(100)
        elif f == "tag":
            patch[f] = f"t{rng.randrange(TAGS)}"
        else:
            patch[f] = None if rng.random() < 0.5 else _text(rng, rng.randint(10, 40))
    return patch


# bucket count of every store the benchmark builds (passed to
# DocumentStore explicitly): the op sequence pins the documents that
# share the collection's bucket, so it must know the placement
N_BUCKETS = 16


class _Zipf:
    """Zipf(s) key popularity over ``n`` keys. Which key gets which rank
    is a seeded shuffle, except that the keys in ``pinned`` take every
    N_BUCKETS-th rank: for documents these are the ones sharing the
    collection's bucket, whose writes rewrite the whole collection, so
    every seed sends them the same share of the traffic."""

    def __init__(self, rng: random.Random, n: int, pinned: frozenset = frozenset(),
                 s: float = ZIPF_S):
        self.rng = rng
        self.cum = list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))
        rest = [k for k in range(n) if k not in pinned]
        pin = sorted(pinned)
        rng.shuffle(rest)
        rng.shuffle(pin)
        self.keys = []
        for r in range(1, n + 1):
            take_pin = pin and (r % N_BUCKETS == 0 or not rest)
            self.keys.append(pin.pop() if take_pin else rest.pop())

    def draw(self) -> int:
        x = self.rng.random() * self.cum[-1]
        return self.keys[min(bisect.bisect_left(self.cum, x), len(self.keys) - 1)]


@dataclass
class Preload:
    items: dict  # item path → body (without the server-injected id)
    docs: dict  # doc path → body after the command log
    # query_mix: command log fed through run_command_stream
    commands: list = field(default_factory=list)


def preload(spec: Spec, seed: int) -> Preload:
    rng = random.Random(f"preload-{spec.name}-{seed}")
    items = {item_path(i): make_body(rng) for i in range(spec.items)}
    if not spec.stream_commands:
        docs = {doc_path(i): make_body(rng) for i in range(spec.docs)}
        return Preload(items, docs)
    # every document is created first, then the rest of the log
    # replaces or patches documents chosen at random
    commands = []
    for seq in range(spec.stream_commands):
        if seq < spec.docs:
            commands.append({"seq": seq, "method": "put", "path": doc_path(seq), "body": make_body(rng)})
        elif rng.random() < 0.5:
            commands.append(
                {"seq": seq, "method": "put", "path": doc_path(rng.randrange(spec.docs)), "body": make_body(rng)}
            )
        else:
            commands.append(
                {"seq": seq, "method": "patch", "path": doc_path(rng.randrange(spec.docs)), "body": make_patch(rng)}
            )
    return Preload(items, {}, commands)


def _query(rng: random.Random, shape: str) -> Op:
    if shape == "range":
        lo = rng.randrange(90_000)
        hi = lo + 8_000
        return Op(QUERY, "GET", COLLECTION,
                  params={"filter": f"price >= {lo} and price < {hi}", "sort": "price", "size": PAGE_SIZE},
                  shape=shape, args=(lo, hi))
    if shape == "filtered":
        tag = f"t{rng.randrange(TAGS)}"
        return Op(QUERY, "GET", COLLECTION,
                  params={"filter": f'a > 50 and tag = "{tag}"', "sort": "-score", "size": PAGE_SIZE},
                  shape=shape, args=(tag,))
    if shape == "paged":
        lo = rng.randrange(90_000)
        return Op(QUERY, "GET", COLLECTION,
                  params={"filter": f"price >= {lo}", "sort": "price", "size": PAGE_SIZE, "paged": True},
                  shape=shape, args=(lo,))
    tag, below = f"t{rng.randrange(TAGS)}", rng.randrange(20, 80)
    return Op(SCAN, "GET", COLLECTION,
              params={"filter": f'tag = "{tag}" and a < {below}', "size": PAGE_SIZE},
              shape="scan", args=(tag, below))


def _slot_ops(slot: str, rng: random.Random, items: _Zipf, docs: _Zipf) -> list[Op]:
    if slot == "get_item":
        return [Op(GET, "GET", item_path(items.draw()))]
    if slot == "get_doc":
        return [Op(GET, "GET", doc_path(docs.draw()))]
    if slot == "item_patch":
        return [Op(WRITE, "PATCH", item_path(items.draw()), make_patch(rng))]
    if slot == "item_put":
        return [Op(WRITE, "PUT", item_path(items.draw()), make_body(rng))]
    if slot == "item_delete":
        p = item_path(items.draw())
        return [Op(WRITE, "DELETE", p, pair_first=True), Op(WRITE, "PUT", p, make_body(rng))]
    if slot == "doc_put":
        return [Op(DOC_WRITE, "PUT", doc_path(docs.draw()), make_body(rng))]
    if slot == "doc_patch":
        return [Op(DOC_WRITE, "PATCH", doc_path(docs.draw()), make_patch(rng))]
    if slot.startswith("q_"):
        return [_query(rng, slot[2:])]
    if slot == "scan":
        return [_query(rng, "scan")]
    raise ValueError(f"unknown op slot {slot!r}")


def warmup_length(spec: Spec) -> int:
    """Ops run untimed before measuring: every slot of the mix three
    times, then ``warmup_random`` ops drawn from the mix. A delete slot
    emits two ops."""
    per_round = sum(2 if s == "item_delete" else 1 for s, _ in spec.mix)
    return 3 * per_round + spec.warmup_random


def sequence(spec: Spec, seed: int) -> Iterator[Op]:
    """The workload's op sequence: an every-shape warm-up block, then
    shuffled decks that each hold every slot exactly as often as the mix
    says, with a maintenance op after every ``maint_every`` writes. Any
    prefix thus has the mix's proportions to within one deck, whatever
    op count a run times. The same seed yields the same ops."""
    # imported here, not at the top: importing the library loads
    # pyspark, which run.py must only do after preparing the environment
    from hyper_storage_spark.store.storage import bucket_of

    rng = random.Random(f"ops-{spec.name}-{seed}")
    items = _Zipf(rng, spec.items)
    coll_bucket = bucket_of(COLLECTION, N_BUCKETS)
    docs = _Zipf(rng, spec.docs,
                 frozenset(i for i in range(spec.docs)
                           if bucket_of(doc_path(i), N_BUCKETS) == coll_bucket))
    deck = [slot for slot, n in spec.mix for _ in range(n)]
    if len(deck) != 100:
        raise ValueError(f"{spec.name}: the mix must fill a deck of 100, has {len(deck)}")

    def decks() -> Iterator[str]:
        while True:
            rng.shuffle(deck)
            yield from deck

    warm = [slot for slot, _ in spec.mix] * 3
    rng.shuffle(warm)
    since_maint = 0
    for slot in itertools.chain(warm, decks()):
        for op in _slot_ops(slot, rng, items, docs):
            yield op
            if op.kind in (WRITE, DOC_WRITE):
                since_maint += 1
            if spec.maint_every and since_maint >= spec.maint_every and not op.pair_first:
                since_maint = 0
                yield Op(MAINT, "MAINT")


def take(it: Iterator[Op], n: int) -> list[Op]:
    return list(itertools.islice(it, n))


def first_missing(counts: dict, floors: dict) -> Optional[str]:
    """The first op kind whose timed sample count is still below its
    floor, or None when every floor is met."""
    for kind, need in floors.items():
        if counts.get(kind, 0) < need:
            return kind
    return None
