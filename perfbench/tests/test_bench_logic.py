"""Tests of the benchmark's own arithmetic and generators (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analyst  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import stats  # noqa: E402


# ------------------------------------------------------ percentile rule

@pytest.mark.parametrize("n, want", [
    (5, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (999, 90.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_report_gives_tail_only_with_ten_samples_beyond():
    res = harness.Result()
    res.timing("lat", [float(i) for i in range(99)], "_ms")
    res.timing("lat", [float(i) for i in range(100)], "_ms")
    assert [(name, n) for name, _, _, n in res.report] == [
        ("lat_p50_ms", 99), ("lat_p50_ms", 100), ("lat_p90_ms", 100)]


def test_percentile_interpolates_like_numpy():
    xs = [7.0, 1.0, 3.0, 10.0, 4.0]
    for q in (0, 25, 50, 90, 100):
        assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q))


# ------------------------------------------------------------ self time

def _span(name, start, end, parent=None):
    return stats.Span(name, start, end, parent, 0)


def test_self_time_subtracts_children():
    spans = [_span("bench.op", 0.0, 10.0),
             _span("queries.build", 1.0, 3.0, 0),
             _span("io.load_table", 1.5, 2.0, 1),
             _span("queries.exec", 4.0, 9.0, 0)]
    got = stats.self_times_ms(spans)
    assert got["bench"] == pytest.approx(3000.0)      # 10 - 2 - 5
    assert got["queries"] == pytest.approx(1500.0 + 5000.0)
    assert got["io"] == pytest.approx(500.0)


def test_self_time_counts_overlapping_children_once():
    spans = [_span("streaming.trigger", 0.0, 4.0),
             _span("sources.a", 1.0, 3.0, 0),
             _span("sources.b", 2.0, 5.0, 0)]      # overlaps and overruns
    assert stats.self_times_ms(spans)["streaming"] == pytest.approx(1000.0)


def test_tracer_disabled_records_nothing():
    t = stats.Tracer(False)
    with t.span("queries.build"):
        pass
    assert t.spans == []
    t = stats.Tracer(True)
    with t.span("a.x"):
        with t.span("b.y"):
            pass
    assert [s.parent for s in t.spans] == [None, 0]


# ------------------------------------------- file due -> covering trigger

def test_trigger_end_is_start_plus_trigger_execution():
    p = {"timestamp": "2026-01-01T00:00:01.500Z", "durationMs": {"triggerExecution": 250}}
    assert stats.trigger_end_s(p) == pytest.approx(1767225601.75)


def test_file_latency_takes_the_later_query():
    due = {"f0": 100.0, "f1": 100.5, "f2": 101.0}
    file_batch = [{"f0": 0, "f1": 1, "f2": 1}, {"f0": 3, "f1": 3, "f2": 4}]
    batch_end = [{0: 100.4, 1: 101.9}, {3: 101.0, 4: 101.2}]
    got = stats.file_latencies(due, file_batch, batch_end)
    assert got == pytest.approx({"f0": 1.0, "f1": 1.4, "f2": 0.9})


def test_file_latency_none_when_a_query_never_committed():
    got = stats.file_latencies({"f0": 1.0}, [{"f0": 0}, {}], [{0: 2.0}, {}])
    assert got == {"f0": None}


def _progress(batch, start, end):
    src = {"startOffset": None if start is None else {"logOffset": start},
           "endOffset": None if end is None else {"logOffset": end}}
    return {"batchId": batch, "sources": [src]}


def test_file_batches_maps_log_offsets_through_progress_ranges():
    # batch 2 is a no-data batch (watermark advance): from then on the
    # batch ids run ahead of the source's log offsets
    progress = [_progress(0, None, 0), _progress(1, 0, 2), _progress(2, 2, 2),
                _progress(3, 2, 3)]
    log = {"a": 0, "b": 1, "c": 2, "d": 3, "late": 4}
    assert stats.file_batches(log, progress) == {"a": 0, "b": 1, "c": 1, "d": 3}


def test_file_batches_reads_offsets_given_as_json_text():
    p = {"batchId": 5, "sources": [{"startOffset": '{"logOffset":6}',
                                    "endOffset": '{"logOffset":7}'}]}
    assert stats.file_batches({"x": 7, "y": 6}, [p]) == {"x": 5}


def test_max_lag_counts_released_minus_committed():
    release = [0.0, 1.0, 2.0, 3.0]
    done = [2.5, 2.6, None, 3.5]
    assert stats.max_lag(release, done) == 3     # at t=2: 3 released, 0 done


# ------------------------------------------------------------ generators

def test_same_seed_same_bytes_other_seed_other_bytes():
    a, b, c = gen.digest_all(7), gen.digest_all(7), gen.digest_all(8)
    assert a == b
    assert all(a[k] != c[k] for k in a if k not in ("analyst.region", "analyst.nation"))


def test_tweet_truth_matches_rows():
    tab, truth = gen.tweets(gen.rng_for(1, "t"), 5000, np.zeros(5000, dtype=np.int64))
    rows = tab.to_pylist()
    kw = set(gen.KEYWORDS)
    fr = [r["user"] is not None and (r["user"]["lang"] or "").startswith("fr") for r in rows]
    has = [bool(kw & set(r["hashtags"])) for r in rows]
    assert truth["fr_rows"] == sum(fr)
    assert truth["keyword_rows"] == sum(has)
    assert truth["kept"] == sum(f and h for f, h in zip(fr, has))
    texts = [r["text"] for r in rows]
    dup_share = 1 - len(set(texts)) / len(texts)
    assert 0.25 < dup_share < 0.35
    assert 0.75 < sum(r["geo"] is None for r in rows) / len(rows) < 0.85


def test_change_batch_updates_distinct_keys_and_inserts_fresh_ones():
    rng = gen.rng_for(3, "l")
    model = gen.score_table(rng, 100)
    rows, nxt = gen.change_batch(rng, model, 20, 100)
    keys = [k for k, _ in rows]
    assert len(set(keys)) == 20 and nxt == 104
    assert sum(k in model for k in keys) == 16


# ------------------------------------------------------- analyst pieces

def test_schedule_is_seeded_whole_cycles_with_one_write_in_five():
    ops = analyst.schedule(5, 2)
    assert ops == analyst.schedule(5, 2) and ops != analyst.schedule(6, 2)
    n_reads = len(analyst.QUERIES) + len(analyst.FORMATS) + 1   # + the model read
    assert sum(k != "write" for k, _ in ops) == 2 * n_reads
    assert sum(k == "write" for k, _ in ops) == 2 * len(analyst.FORMATS)
    assert 4.5 <= len(ops) / sum(k == "write" for k, _ in ops) <= 5.5


def test_schedule_puts_each_lakehouse_read_right_after_its_write():
    for seed in range(5):
        ops = analyst.schedule(seed, 3)
        for i, (kind, name) in enumerate(ops):
            if kind == "lake":
                assert ops[i - 1] == ("write", name)


def test_oracle_comparison_is_exact_and_type_tagged():
    cols = ["n", "name", "revenue"]
    want = analyst.canonical(cols, [(2, "b", 10.5), (1, "a", 252598.03)])
    assert analyst.canonical(["revenue", "name", "n"],
                             [(252598.03, "a", 1), (10.5, "b", 2)]) == want
    assert analyst.canonical(cols, [(1, "a", 252598.04), (2, "b", 10.5)]) != want
    assert analyst.canonical(cols, [(1.0, "a", 252598.03), (2, "b", 10.5)]) != want
