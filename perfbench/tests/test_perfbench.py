"""Unit tests of the benchmark's own logic; no JVM needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import common  # noqa: E402
import datagen  # noqa: E402
import generator  # noqa: E402
import stream  # noqa: E402


def test_reported_percentile_has_ten_samples_beyond_it():
    for n in range(1, 3000, 7):
        values = list(range(n))
        for q in (75, 90, 99):
            try:
                v = common.percentile(values, q)
            except ValueError:
                assert common.rank_beyond(n, q) < 10
                continue
            assert sum(1 for x in values if x > v) >= 10


def test_unsupported_tail_percentile_is_refused():
    with pytest.raises(ValueError):
        common.percentile(range(999), 99)
    assert common.percentile(range(1000), 99) == 989
    assert common.percentile([5.0], 50) == 5.0


def test_latency_is_measured_from_due_time_not_send_time():
    due = 1_700_000_000.0
    sent = due + 0.6    # the generator wrote the post late
    emit = due + 1.0
    rows = [("k", datagen.iso(due), "d", emit)]
    assert stream.latencies(rows, (due - 1, due + 1)) == pytest.approx([1.0])
    assert stream.latencies(rows, (due - 1, due + 1))[0] > emit - sent
    # outside the window: not a sample
    assert stream.latencies(rows, (due + 1, due + 2)) == []


def test_generator_schedule_stamps_due_times():
    texts = ["good fast spark", "slow bad data"]
    ticks = list(generator.schedule(3, texts, start_at=100.0, seconds=1.0))
    n = int(1.0 / generator.TICK)
    assert [round(d, 6) for d, _ in ticks] == [
        round(100 + generator.TICK * k, 6) for k in range(n)]
    for due, lines in ticks:
        assert len(lines) == round(generator.RATE * generator.TICK)
        for line in lines:
            # a replay is the earlier message unchanged, so it carries an
            # earlier (or the same) due time
            assert stream.epoch(json.loads(line)["created_at"]) <= due
    assert ticks == list(generator.schedule(3, texts, 100.0, 1.0))


def test_failed_counts_a_planted_wrong_result():
    expected = {"a": "1", "b": "2", "c": "3"}
    assert common.compare_keyed(expected, [("a", "1"), ("b", "2"), ("c", "3")]) == (3, 0)
    assert common.compare_keyed(expected, [("a", "1"), ("b", "X"), ("c", "3")]) == (3, 1)
    assert common.compare_keyed(expected, [("a", "1"), ("c", "3")]) == (3, 1)
    assert common.compare_keyed(expected, [("a", "1"), ("a", "1"), ("b", "2"),
                                           ("c", "3")]) == (3, 1)
    assert common.compare_keyed(expected, [("a", "1"), ("b", "2"), ("c", "3"),
                                           ("z", "9")]) == (3, 1)


def test_dedup_drop_frac_counts_planted_replays():
    slots = list(datagen.post_slots(5, 2000))
    replays = sum(1 for _, r in slots if r)
    fresh = len(slots) - replays
    assert 60 < replays < 140
    # post 0 fails the confidence gate, and so does each replay of it
    gated = sum(1 for i, _ in slots if i == 0)
    acct = common.dedup_accounting(len(slots), len(slots) - gated, fresh - 1,
                                   fresh - 1)
    assert acct["dedup_planted_rows"] == replays - (gated - 1)
    assert acct["dedup_dropped_rows"] == acct["dedup_planted_rows"]
    assert acct["dedup_drop_frac"] == 1.0
    assert acct["gate_dropped_rows"] == gated
    # a replay the dedup stage let through shows as a shortfall
    leaky = common.dedup_accounting(len(slots), len(slots) - gated, fresh - 1, fresh)
    assert leaky["dedup_drop_frac"] < 1.0


def test_self_time_subtracts_the_union_of_overlapping_children():
    t = common.Tracer(True)
    root = t.add("q", 0.0, 10.0, None)
    t.add("stage", 1.0, 5.0, root["id"])
    t.add("stage", 2.0, 6.0, root["id"])    # overlaps the first stage
    t.add("stage", 9.0, 12.0, root["id"])   # runs past the parent's end
    selfs = t.self_times()
    assert selfs["q"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert selfs["stage"] == pytest.approx(4 + 4 + 3)
    assert common.Tracer(False).add("q", 0.0, 1.0, None) is None


def test_inputs_are_a_function_of_the_seed(tmp_path):
    def digest(seed):
        out = tmp_path / str(seed)
        datagen.write_tables(str(out), seed, 0.001)
        h = hashlib.sha256()
        for name in datagen.TABLES:
            h.update((out / f"{name}.parquet").read_bytes())
        return h.hexdigest()

    assert digest(1) == digest(1)
    assert digest(1) != digest(2)


def test_overhead_pairs_cancel_warm_up():
    # the later run of each query is 20% faster; tracing adds 10%
    pairs = [(1.2 * 1.1, 1.0), (1.0 * 1.1, 1.2)]
    assert common.overhead_frac(pairs) == pytest.approx(0.1)
    assert common.overhead_frac([]) == 0.0
