"""The benchmark's own tests; Spark-free, run with

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import pytest

from perfbench import gen
from perfbench.trace import Span, highest_valid_percentile, parse_sql_metric, quantile, self_time

HERE = os.path.dirname(os.path.abspath(__file__))


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _write_inputs(seed: int, out: str) -> list[str]:
    gen.main(["segment", "--seed", str(seed), "--out", out, "--history", "200",
              "--batch-events", "150", "--batches", "3"])
    paths = [os.path.join(out, "history.json")] + [os.path.join(out, gen.batch_file(b)) for b in range(3)]
    paths.append(os.path.join(out, "events.parquet"))
    gen.main(["events", "--seed", str(seed), "--out", paths[-1], "--events", "2000", "--users", "300"])
    return paths


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (tmp_path / d for d in "abc")
    for d in (a, b, c):
        d.mkdir()
    pa, pb, pc = _write_inputs(7, str(a)), _write_inputs(7, str(b)), _write_inputs(8, str(c))
    assert [_digest(p) for p in pa] == [_digest(p) for p in pb]
    assert all(_digest(x) != _digest(y) for x, y in zip(pa, pc))


def test_batch_is_independent_of_how_many_follow():
    first = next(gen.segment_batches(3, 100))
    again = gen.segment_batches(3, 100)
    assert next(again) == first
    next(again)  # drawing more later changes nothing already drawn
    assert first == next(gen.segment_batches(3, 100))


def test_stream_properties_are_as_stated():
    history = gen.history_events(5, 2_000)
    schedule = gen.segment_batches(5, 2_000, history)
    batches = [next(schedule) for _ in range(3)]
    events = [e for b in batches for e in b]
    ids = [e["messageId"] for e in events]
    seen_before = {e["messageId"] for e in history}
    redelivered = 0
    for b in batches:
        redelivered += sum(e["messageId"] in seen_before for e in b)
        seen_before |= {e["messageId"] for e in b}
    assert abs(redelivered / len(events) - gen.REDELIVERY_SHARE) < 0.015
    fresh = [e for e in events if e["messageId"].startswith("s")]
    bots = sum(e["context"]["userAgent"] == gen.BOT_UA for e in fresh)
    assert abs(bots / len(fresh) - gen.BOT_SHARE) < 0.01
    late = sum(e["timestamp"] < "2024-03-01" for e in fresh)
    assert abs(late / len(fresh) - gen.LATE_SHARE) < 0.015
    names = {e["event"] for e in fresh if e["type"] == "track"}
    assert names == set(gen.TRACK_EVENT_NAMES)
    assert len(set(ids)) < len(ids)  # redeliveries repeat message ids


def test_stream_fans_out_to_eleven_tables():
    from jitsu_spark.events.layout_core import map_event

    from perfbench.ingest import LAYOUT

    batch = next(gen.segment_batches(2, 5_000))
    tables = {t for ev in batch for t, _ in map_event(ev, LAYOUT)}
    # tracks, pages, identifies and one table per track event name
    assert len(tables) == 3 + len(gen.TRACK_EVENT_NAMES) == 11


def test_events_table_is_zipf_skewed(tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    gen.write_events_table(1, 20_000, 2_000, path)
    t = pq.read_table(path)
    assert t.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    from collections import Counter

    counts = sorted(Counter(t.column("user_id").to_pylist()).values(), reverse=True)
    # Zipf(1) over 2000 ranks: the top user holds 1/H(2000) ~ 12% of events
    assert 0.10 < counts[0] / 20_000 < 0.15
    assert counts[0] > 100 * counts[len(counts) // 2]


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_highest_percentile_with_ten_samples_beyond(n, want):
    assert highest_valid_percentile(n) == want


def test_quantile_interpolates():
    assert quantile([4, 1, 3, 2], 50) == 2.5
    assert quantile([1, 2, 3, 4, 5], 90) == pytest.approx(4.6)
    assert quantile([7], 90) == 7


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_names_and_units():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in bench["workloads"]] + [
        m["name"] for m in bench["end_to_end"] + bench["per_layer"]
    ]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in bench["end_to_end"] if m["name"] == "setup_s"
    ).items()
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])


def test_span_self_time_subtracts_children_once():
    spans = [
        Span("batch", None, 0.0, 10.0),
        Span("sinks.write_routed", 0, 1.0, 9.0),
        Span("sinks.upsert", 1, 2.0, 4.0),
        Span("sinks.upsert", 1, 3.0, 6.0),  # overlaps its sibling
        Span("sinks.upsert", 1, 8.5, 12.0),  # runs past its parent's end
        Span("gateway.query", None, 20.0, 21.0),
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 8.0)
    assert self_time(spans, 1) == pytest.approx(8.0 - (4.0 + 0.5))
    assert self_time(spans, 2) == pytest.approx(2.0)
    assert self_time(spans, 5) == pytest.approx(1.0)


@pytest.mark.parametrize(
    "text, want",
    [
        ("5 ms", 0.005),
        ("total (min, med, max (stageId: taskId))\n7.0 s (1.7 s, 1.8 s, 1.8 s (stage 0.0: task 1))", 7.0),
        ("total (min, med, max (stageId: taskId))\n468.1 KiB (116.3 KiB, 117.6 KiB, 117.7 KiB)", 468.1 * 1024),
        ("2,667", 2667.0),
        ("1.5 min", 90.0),
        (None, 0.0),
    ],
)
def test_parse_sql_metric(text, want):
    assert parse_sql_metric(text) == pytest.approx(want)
