"""Host-speed probe.

The benchmark runs on shared machines whose CPU speed drifts by tens of
percent within seconds. Before every timed op the loop runs this fixed
piece of work, about a millisecond of the same kinds of work the store
does (JSON, Arrow conversion, an in-memory Parquet round trip, Python
bytecode), and times it. Each op's latency is then reported scaled to
the reference speed:

    scaled_ms = wall_ms * REFERENCE_MS / (median probe time around the op)

so a host that is 30% slower for a few seconds reads the same as a
quiet one. The probe never touches the store; a change to the program
moves the scaled latencies exactly as it moves the wall-clock ones.
"""

from __future__ import annotations

import io
import json
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

# median probe time on a quiet 4-vCPU x86-64 guest (the machine the
# bounds in BENCHMARK.json were measured on); it only fixes the unit
REFERENCE_MS = 1.6
# probes on each side of an op that its local speed is the median of
HALF_WINDOW = 3

_DOC = {"price": 12345, "score": 678, "a": 42, "tag": "t3", "payload": "x" * 300,
        "meta": {"v": 7, "src": "web"}}
_ROWS = [dict(_DOC, i=i) for i in range(16)]
_SCHEMA = pa.Table.from_pylist(_ROWS).schema


def run() -> float:
    """Time one probe, in ms."""
    t = time.perf_counter()
    for _ in range(4):
        json.loads(json.dumps(_DOC))
    table = pa.Table.from_pylist(_ROWS, schema=_SCHEMA)
    buf = io.BytesIO()
    pq.write_table(table, buf)
    pq.read_table(io.BytesIO(buf.getvalue())).to_pylist()
    x = 0
    for i in range(1000):
        x += i * i % 7
    return (time.perf_counter() - t) * 1000.0


def local_speed(probes: list[float]) -> list[float]:
    """For each op, the median of the probes within HALF_WINDOW ops of
    it, in ms."""
    n = len(probes)
    return [
        statistics.median(probes[max(0, i - HALF_WINDOW): min(n, i + HALF_WINDOW + 1)])
        for i in range(n)
    ]


def scale(latencies_ms: list[float], probes_ms: list[float]) -> list[float]:
    """Latencies scaled to the reference host speed."""
    return [
        lat * REFERENCE_MS / p for lat, p in zip(latencies_ms, local_speed(probes_ms))
    ]
