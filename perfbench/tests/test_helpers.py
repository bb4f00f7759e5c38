"""Tests for the benchmark's own helpers (no Spark session, no store).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the benchmark's modules, and the source tree for the library's
# bucket placement that the op sequence reads
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import stats  # noqa: E402
import workload as wl  # noqa: E402
from model import Model, merge_patch  # noqa: E402
from tracing import SpanIndex  # noqa: E402


# -- the "at least ten samples beyond" percentile rule -----------------------


def test_min_samples_for_median_and_p90():
    assert stats.min_samples(0.5) == 20
    assert stats.min_samples(0.9) == 100
    assert stats.min_samples(0.99) == 1000


@pytest.mark.parametrize("q", [0.5, 0.75, 0.9, 0.95])
def test_min_samples_is_the_smallest_count_that_works(q):
    n = stats.min_samples(q)
    assert stats.samples_beyond(n, q) >= 10
    assert stats.samples_beyond(n - 1, q) < 10


def test_percentile_refuses_an_unsupported_rank():
    samples = [float(i) for i in range(99)]
    with pytest.raises(ValueError):
        stats.percentile(samples, 0.9)
    assert stats.percentile(samples + [99.0], 0.9) == 89.0


def test_percentile_is_nearest_rank():
    samples = [float(i) for i in range(1, 21)]  # 1..20
    assert stats.percentile(samples, 0.5) == 10.0
    assert stats.samples_beyond(20, 0.5) == 10


def test_boundary_ratio_flags_a_mode_boundary():
    flat = [10.0 + 0.01 * i for i in range(100)]
    assert stats.boundary_ratio(flat, 0.9) == pytest.approx(1.0, abs=0.01)
    bimodal = [20.0] * 90 + [40.0] * 10
    assert stats.boundary_ratio(bimodal, 0.9) == pytest.approx(2.0)


def test_quartiles_match_statistics_quantiles():
    values = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
    q1, med, q3 = stats.quartiles(values)
    assert [q1, med, q3] == statistics.quantiles(values, n=4)
    assert stats.relative_spread(values) == pytest.approx((q3 - q1) / med)


# -- op-sequence generation ----------------------------------------------------


@pytest.mark.parametrize("name", sorted(wl.SPECS))
def test_same_seed_same_sequence(name):
    spec = wl.SPECS[name]
    assert wl.take(wl.sequence(spec, 7), 600) == wl.take(wl.sequence(spec, 7), 600)
    assert wl.preload(spec, 7) == wl.preload(spec, 7)


@pytest.mark.parametrize("name", sorted(wl.SPECS))
def test_other_seed_other_sequence(name):
    spec = wl.SPECS[name]
    assert wl.take(wl.sequence(spec, 7), 600) != wl.take(wl.sequence(spec, 8), 600)
    assert wl.preload(spec, 7) != wl.preload(spec, 8)


@pytest.mark.parametrize("name", sorted(wl.SPECS))
def test_every_prefix_keeps_the_mix(name):
    """Decks make any prefix hold the mix's proportions to within one
    deck, so a run that stops earlier times the same mix."""
    spec = wl.SPECS[name]
    ops = wl.take(wl.sequence(spec, 3), wl.warmup_length(spec) + 1000)[wl.warmup_length(spec):]
    writes = sum(1 for op in ops if op.kind == wl.WRITE)
    gets = sum(1 for op in ops if op.kind == wl.GET)
    get_share = sum(n for s, n in spec.mix if s.startswith("get_")) / 100
    assert abs(gets / len(ops) - get_share) < 0.02
    assert writes > 0


@pytest.mark.parametrize("name", sorted(wl.SPECS))
def test_working_set_is_stationary(name):
    """Writes only touch preloaded keys, and every DELETE is followed
    by the PUT that re-creates the item."""
    spec = wl.SPECS[name]
    ops = wl.take(wl.sequence(spec, 5), 3000)
    items = {wl.item_path(i) for i in range(spec.items)}
    docs = {wl.doc_path(i) for i in range(spec.docs)}
    for i, op in enumerate(ops):
        if op.kind in (wl.WRITE, wl.GET) and op.path.startswith(wl.COLLECTION):
            assert op.path in items
        elif op.kind in (wl.DOC_WRITE, wl.GET):
            assert op.path in docs
        if op.method == "DELETE":
            assert op.pair_first
            nxt = ops[i + 1]
            assert (nxt.method, nxt.path) == ("PUT", op.path)


def test_warmup_block_covers_every_slot():
    for spec in wl.SPECS.values():
        n = wl.warmup_length(spec)
        warm = wl.take(wl.sequence(spec, 1), n)
        shapes = {op.shape for op in warm if op.shape}
        want = {s[2:] if s.startswith("q_") else s for s, _ in spec.mix
                if s.startswith("q_") or s == "scan"}
        assert want <= shapes


def test_patches_never_merge_objects():
    """The store's PATCH is a shallow merge; the generated patches stay
    where shallow merge and RFC 7386 agree."""
    import random

    rng = random.Random(0)
    for _ in range(500):
        assert not any(isinstance(v, dict) for v in wl.make_patch(rng).values())


# -- the model -------------------------------------------------------------------


def test_merge_patch_follows_rfc7386():
    # RFC 7386 appendix A examples
    assert merge_patch({"a": "b"}, {"a": "c"}) == {"a": "c"}
    assert merge_patch({"a": "b"}, {"b": "c"}) == {"a": "b", "b": "c"}
    assert merge_patch({"a": "b"}, {"a": None}) == {}
    assert merge_patch({"a": {"b": "c"}}, {"a": {"b": "d", "c": None}}) == {"a": {"b": "d"}}
    assert merge_patch({"a": [{"b": "c"}]}, {"a": [1]}) == {"a": [1]}
    assert merge_patch({"e": None}, {"a": 1}) == {"e": None, "a": 1}
    assert merge_patch([1, 2], {"a": "b", "c": None}) == {"a": "b"}
    assert merge_patch({}, {"a": {"bb": {"ccc": None}}}) == {"a": {"bb": {}}}


def test_model_revisions_are_shared_per_collection():
    m = Model({}, {})
    assert m.expect_write(wl.Op(wl.WRITE, "PUT", "coll~/i00001", {"price": 1})) == (201, 1)
    assert m.expect_write(wl.Op(wl.WRITE, "PUT", "coll~/i00002", {"price": 2})) == (201, 2)
    assert m.expect_write(wl.Op(wl.WRITE, "PATCH", "coll~/i00001", {"price": 3})) == (200, 3)
    assert m.expect_write(wl.Op(wl.DOC_WRITE, "PUT", "docs/d00001", {"x": 1})) == (201, 1)
    assert m.expect_get("coll~/i00001") == ({"price": 3, "id": "i00001"}, 3)
    assert m.expect_write(wl.Op(wl.WRITE, "DELETE", "coll~/i00002")) == (200, 4)
    assert m.expect_write(wl.Op(wl.WRITE, "PUT", "coll~/i00002", {"price": 5})) == (201, 5)


def test_model_query_pages():
    bodies = {}
    for i, (price, score, a, tag) in enumerate(
        [(5, 1, 60, "t1"), (3, 9, 70, "t1"), (3, 4, 10, "t1"), (8, 9, 80, "t1"), (1, 2, 55, "t2")]
    ):
        bodies[f"coll~/i{i:05d}"] = {"price": price, "score": score, "a": a, "tag": tag, "id": f"i{i:05d}"}
    m = Model(bodies, {"coll~": 5})
    rng_q = wl.Op(wl.QUERY, "GET", "coll~", params={"size": 3}, shape="range", args=(2, 8))
    assert [b["id"] for b in m.expect_query(rng_q)] == ["i00001", "i00002", "i00000"]
    hot = wl.Op(wl.QUERY, "GET", "coll~", params={"size": 20}, shape="filtered", args=("t1",))
    assert [b["id"] for b in m.expect_query(hot)] == ["i00001", "i00003", "i00000"]
    scan = wl.Op(wl.SCAN, "GET", "coll~", params={"size": 20}, shape="scan", args=("t1", 65))
    assert [b["id"] for b in m.expect_query(scan)] == ["i00000", "i00002"]
    assert set(m.expect_index("hot")) == {"i00000", "i00001", "i00003", "i00004"}


# -- space amplification ---------------------------------------------------------


def test_space_amplification(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "f1").write_bytes(b"x" * 300)
    (tmp_path / "f2").write_bytes(b"y" * 100)
    assert stats.tree_bytes(str(tmp_path)) == 400
    m = Model({"docs/d1": {"k": "v" * 10}}, {"docs/d1": 1})
    live = m.live_body_bytes()
    assert live == len('{"k": "vvvvvvvvvv"}')
    assert stats.space_amplification(400, live) == pytest.approx(400 / live)
    with pytest.raises(ValueError):
        stats.space_amplification(400, 0)


# -- span self time ----------------------------------------------------------------


def _span(i, parent, start, end, name="span"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 2.0, 3.0),  # grandchild: counted in 2, not again in 1
        _span(4, 1, 5.0, 6.0),
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_counts_overlap_once_and_clips_to_parent():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 5.0),
        _span(3, 1, 4.0, 7.0),  # overlaps 2 (another thread, say)
        _span(4, 1, 9.0, 12.0),  # sticks out of its parent
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_time_of_a_leaf_is_its_duration():
    assert stats.self_times([_span(1, None, 2.0, 2.5)]) == {1: pytest.approx(0.5)}


def test_time_outside_removes_the_union_of_named_descendants():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0, "storage.commit"),
        _span(3, 2, 2.0, 3.0, "storage.flip"),  # inside 2: not counted twice
        _span(4, 1, 5.0, 8.0, "expression.evaluate"),  # not storage: stays in
        _span(5, 4, 6.0, 7.0, "storage.bucket_rows"),  # storage below it: removed
    ]
    idx = SpanIndex(spans)
    assert idx.time_outside(spans[0], "storage.") == pytest.approx(10.0 - 3.0 - 1.0)


def test_covered_merges_overlaps_and_clips():
    assert stats.covered([(1.0, 5.0), (4.0, 7.0), (9.0, 12.0)], 0.0, 10.0) == pytest.approx(7.0)
    assert stats.covered([], 0.0, 10.0) == 0.0
