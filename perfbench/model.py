"""In-benchmark reference model of the store, used only by the
correctness checks, which run outside the timed region.

It follows RFC 7386 merge-patch, the store's revision rules (one
gapless counter per document, shared by all items of a collection) and
the query semantics of the two collection indexes.
"""

from __future__ import annotations

import copy
import json
from typing import Any, Optional

from workload import COLLECTION, PAGE_SIZE, Op


def merge_patch(target: Any, patch: Any) -> Any:
    """RFC 7386 JSON merge-patch."""
    if not isinstance(patch, dict):
        return copy.deepcopy(patch)
    out = dict(target) if isinstance(target, dict) else {}
    for key, value in patch.items():
        if value is None:
            out.pop(key, None)
        else:
            out[key] = merge_patch(out.get(key), value)
    return out


def body_bytes(body: Any) -> int:
    """Bytes of a body as the store serializes it."""
    return len(json.dumps(body).encode("utf-8"))


def document_uri(path: str) -> str:
    return COLLECTION if path.startswith(COLLECTION + "/") else path


class Model:
    """Live bodies by path and the revision counter of each document."""

    def __init__(self, bodies: dict[str, Any], revisions: dict[str, int]):
        self.bodies = dict(bodies)
        self.revisions = dict(revisions)

    def expect_write(self, op: Op) -> tuple[int, int]:
        """Apply a write; returns the (status, revision) the store must
        answer with."""
        uri = document_uri(op.path)
        revision = self.revisions.get(uri, 0) + 1
        exists = op.path in self.bodies
        if op.method == "PUT":
            body = dict(op.body)
            if uri == COLLECTION:
                body["id"] = op.path.rsplit("/", 1)[1]
            self.bodies[op.path] = body
            status = 200 if exists else 201
        elif op.method == "PATCH":
            if not exists:
                raise KeyError(op.path)
            self.bodies[op.path] = merge_patch(self.bodies[op.path], op.body)
            status = 200
        elif op.method == "DELETE":
            if not exists:
                raise KeyError(op.path)
            del self.bodies[op.path]
            status = 200
        else:
            raise ValueError(op.method)
        self.revisions[uri] = revision
        return status, revision

    def expect_get(self, path: str) -> tuple[Any, int]:
        return self.bodies[path], self.revisions[document_uri(path)]

    def items(self) -> list[tuple[str, dict]]:
        """Live collection items as (item id, body), by item id."""
        prefix = COLLECTION + "/"
        return sorted(
            (p[len(prefix):], b) for p, b in self.bodies.items() if p.startswith(prefix)
        )

    def expect_query(self, op: Op) -> list[dict]:
        """The page a collection query must return: filter, then the
        chosen index's order (ties by item id), then the page size."""
        rows = self.items()
        if op.shape == "range":
            lo, hi = op.args
            rows = [r for r in rows if lo <= r[1]["price"] < hi]
            rows.sort(key=lambda r: (r[1]["price"], r[0]))
        elif op.shape == "paged":
            (lo,) = op.args
            rows = [r for r in rows if r[1]["price"] >= lo]
            rows.sort(key=lambda r: (r[1]["price"], r[0]))
        elif op.shape == "filtered":
            (tag,) = op.args
            rows = [r for r in rows if r[1]["a"] > 50 and r[1]["tag"] == tag]
            rows.sort(key=lambda r: (-r[1]["score"], r[0]))
        elif op.shape == "scan":
            tag, below = op.args
            rows = [r for r in rows if r[1]["tag"] == tag and r[1]["a"] < below]
        else:
            raise ValueError(op.shape)
        return [b for _, b in rows[: op.params.get("size", PAGE_SIZE)]]

    def expect_index(self, index_id: str) -> dict[str, dict]:
        """item id → body of the rows an index table must hold."""
        if index_id == "by_price":
            return dict(self.items())
        if index_id == "hot":
            return {i: b for i, b in self.items() if b["a"] > 50}
        raise ValueError(index_id)

    def live_body_bytes(self) -> int:
        return sum(body_bytes(b) for b in self.bodies.values())


def replay_commands(commands: list[dict]) -> "Model":
    """Serial replay of a command log (put/patch on documents)."""
    m = Model({}, {})
    for c in commands:
        m.expect_write(Op("doc_write", c["method"].upper(), c["path"], c["body"]))
    return m


def first_difference(expected: dict, actual: dict) -> Optional[str]:
    """A one-line description of the first key whose value differs."""
    for key in sorted(set(expected) | set(actual)):
        if expected.get(key) != actual.get(key):
            return f"{key}: expected {expected.get(key)!r:.120}, got {actual.get(key)!r:.120}"
    return None
