"""Tests of the benchmark's own machinery; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import types

import pytest

import harness
import workloads


def test_percentile_needs_ten_samples_beyond():
    assert harness.samples_needed(90) == 100
    assert harness.samples_needed(75) == 40
    assert harness.samples_needed(50) == 20
    values = [float(i) for i in range(1, 101)]
    assert harness.percentile(values, 90) == 90.0
    with pytest.raises(ValueError):
        harness.percentile(values[:99], 90)


def test_highest_percentile_picks_the_highest_supported():
    assert harness.highest_percentile([1.0] * 19) is None
    assert harness.highest_percentile([1.0] * 20)[0] == 50
    assert harness.highest_percentile([1.0] * 99)[0] == 75
    q, v = harness.highest_percentile([float(i) for i in range(1, 201)])
    assert (q, v) == (95, 190.0)


def test_pass_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(12)]
    a = harness.pass_order(names, seed=7, pass_no=1)
    assert a == harness.pass_order(names, seed=7, pass_no=1)
    assert sorted(a) == sorted(names)
    assert a != harness.pass_order(names, seed=7, pass_no=2)
    assert a != harness.pass_order(names, seed=8, pass_no=1)


def test_split_batches_is_deterministic_and_complete():
    a = harness.split_batches(1003, 10, seed=5)
    assert a == harness.split_batches(1003, 10, seed=5)
    assert a != harness.split_batches(1003, 10, seed=6)
    assert sorted(i for b in a for i in b) == list(range(1003))
    assert {len(b) for b in a} <= {100, 101}
    with pytest.raises(ValueError):
        harness.split_batches(3, 4, seed=0)


def test_compare_checksum():
    assert harness.compare_checksum((3, 12), [3, "12"]) is None
    assert "row count" in harness.compare_checksum((4, 12), [3, "12"])
    assert "hash sum" in harness.compare_checksum((3, 13), [3, "12"])
    assert "no expected" in harness.compare_checksum((3, 12), None)


def test_tally_counts_failures_against_attempts():
    t = harness.Tally()
    t.ok()
    t.fail("q", "boom")
    t.fail("q", "boom again")
    assert (t.attempted, t.failed) == (3, 2)
    assert t.failed_frac == pytest.approx(2 / 3)
    assert t.reasons == {"q": "boom"}


def test_query_raising_mid_pass_is_counted_and_the_pass_goes_on(monkeypatch):
    ran = []

    def fake_run_query(ctx, name, sf_dir, trace_id):
        ran.append(name)
        if name == "bad":
            raise RuntimeError("mid-pass failure")
        if name == "wrong":
            return 0.5, 0.1, (1, 99)
        return 0.5, 0.1, (1, 1)

    monkeypatch.setattr(workloads, "run_query", fake_run_query)
    ctx = types.SimpleNamespace(tally=harness.Tally())
    expected = {n: [1, "1"] for n in ("a", "bad", "wrong", "b")}
    _, done = workloads.query_pass(ctx, ["a", "bad", "wrong", "b"], "", expected, 1)
    assert ran == ["a", "bad", "wrong", "b"]
    assert (ctx.tally.attempted, ctx.tally.failed) == (4, 2)
    assert set(ctx.tally.reasons) == {"bad", "wrong"}
    assert [name for name, _, _ in done] == ["a", "b"]  # only correct queries are timed


def test_covered_merges_overlaps_and_clips():
    assert harness.covered([(1, 3), (2, 4)], 0, 10) == 3
    assert harness.covered([(0, 5)], 2, 4) == 2
    assert harness.covered([(1, 2), (3, 4)], 0, 10) == 2
    assert harness.covered([], 0, 10) == 0


def test_self_time_subtracts_the_union_of_children():
    tr = harness.Tracer()
    q = tr.add("query", 0.0, 10.0)
    tr.add("build", 0.0, 4.0, q)
    e = tr.add("execute", 4.0, 10.0, q)
    tr.add("stage", 5.0, 8.0, e)
    tr.add("stage", 6.0, 9.0, e)  # overlaps the first stage
    own = tr.self_time_by_name()
    assert own["query"] == pytest.approx(0.0)
    assert own["build"] == pytest.approx(4.0)
    assert own["execute"] == pytest.approx(2.0)  # 6 s minus the 4 s stages cover
    assert own["stage"] == pytest.approx(6.0)
