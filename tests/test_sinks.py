"""Warehouse sink semantics: MERGE dedup, schema evolution, routing."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture
def sink(spark, tmp_path):
    from jitsu_spark.sinks import WarehouseSink

    return WarehouseSink(spark, str(tmp_path))


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "message_id string, ts timestamp, v string"
    )


def test_upsert_dedups_on_primary_key(spark, sink):
    b1 = _df(spark, [("m1", _ts("2024-01-01T00:00:00"), "a"),
                     ("m2", _ts("2024-01-01T00:00:00"), "b")])
    sink.upsert(b1, "events")
    # redelivery of m1 (newer value wins) + new m3
    b2 = _df(spark, [("m1", _ts("2024-01-02T00:00:00"), "a2"),
                     ("m3", _ts("2024-01-02T00:00:00"), "c")])
    sink.upsert(b2, "events")
    got = {r.message_id: r.v for r in sink.read("events").collect()}
    assert got == {"m1": "a2", "m2": "b", "m3": "c"}


def test_upsert_is_idempotent(spark, sink):
    b = _df(spark, [("m1", _ts("2024-01-01T00:00:00"), "a")])
    sink.upsert(b, "t")
    sink.upsert(b, "t")  # at-least-once redelivery
    assert sink.read("t").count() == 1


def test_upsert_within_batch_duplicates(spark, sink):
    b = _df(spark, [("m1", _ts("2024-01-01T00:00:00"), "old"),
                    ("m1", _ts("2024-01-01T00:01:00"), "new")])
    sink.upsert(b, "t")
    rows = sink.read("t").collect()
    assert len(rows) == 1 and rows[0].v == "new"


def test_untouched_partitions_survive(spark, sink):
    jan = _df(spark, [("m1", _ts("2024-01-01T00:00:00"), "jan")])
    sink.upsert(jan, "t")
    # a batch far in the future must not clobber january's partition
    jun = _df(spark, [("m2", _ts("2024-06-01T00:00:00"), "jun")])
    sink.upsert(jun, "t")
    got = {r.message_id: r.v for r in sink.read("t").collect()}
    assert got == {"m1": "jan", "m2": "jun"}


def test_schema_evolution_adds_columns(spark, sink):
    sink.upsert(_df(spark, [("m1", _ts("2024-01-01T00:00:00"), "a")]), "t")
    wider = spark.createDataFrame(
        [("m2", _ts("2024-01-01T01:00:00"), "b", 7)],
        "message_id string, ts timestamp, v string, extra int",
    )
    sink.upsert(wider, "t")
    out = sink.read("t")
    assert "extra" in out.columns
    got = {r.message_id: r.extra for r in out.collect()}
    assert got == {"m1": None, "m2": 7}


def test_schema_freeze_drops_new_columns(spark, tmp_path):
    from jitsu_spark.sinks import WarehouseSink

    sink = WarehouseSink(spark, str(tmp_path), schema_freeze=True)
    sink.upsert(_df(spark, [("m1", _ts("2024-01-01T00:00:00"), "a")]), "t")
    wider = spark.createDataFrame(
        [("m2", _ts("2024-01-01T01:00:00"), "b", 7)],
        "message_id string, ts timestamp, v string, extra int",
    )
    sink.upsert(wider, "t")
    assert "extra" not in sink.read("t").columns


def test_routed_write_splits_tables(spark, sink):
    df = spark.createDataFrame(
        [
            ("m1", _ts("2024-01-01T00:00:00"), "tracks"),
            ("m1", _ts("2024-01-01T00:00:00"), "order_completed"),
            ("m2", _ts("2024-01-01T00:00:00"), "tracks"),
        ],
        "message_id string, ts timestamp, _table string",
    )
    tables = sink.write_routed(df)
    assert sorted(tables) == ["order_completed", "tracks"]
    assert sink.read("tracks").count() == 2
    assert sink.read("order_completed").count() == 1
    assert "_table" not in sink.read("tracks").columns


def test_retry_backoff_and_dlq(spark, tmp_path):
    from jitsu_spark.streaming.retries import RetryStore

    store = RetryStore(spark, str(tmp_path))
    failed = spark.createDataFrame(
        [("m1", 0, "boom"), ("m2", 2, "slow"), ("m3", 3, "dead")],
        "message_id string, attempt int, err string",
    )
    store.record_failures(failed, "err", "2024-01-01 00:00:00")

    # before the 10-minute backoff nothing is due
    assert store.due("2024-01-01 00:05:00").count() == 0
    due = store.due("2024-01-01 00:10:00")
    assert [r.message_id for r in due.collect()] == ["m1"]
    # attempt 2 is the 3rd retry (1000-min tier, retries.ts:6 allows 3):
    # still requeued, NOT dead-lettered
    due_late = store.due("2024-01-02 00:00:00")
    assert sorted(r.message_id for r in due_late.collect()) == ["m1", "m2"]
    # attempt 3 exhausted MESSAGES_RETRY_COUNT=3 -> dead letter
    dead = store.dead_letter("2024-01-02 00:00:00")
    assert [r.message_id for r in dead.collect()] == ["m3"]
    assert spark.read.parquet(store.dlq_dir).count() == 1


def test_backoff_series(spark):
    from jitsu_spark.streaming.retries import backoff_minutes

    df = spark.range(4).select(
        backoff_minutes(F.col("id").cast("int")).alias("m")
    )
    assert [r.m for r in df.collect()] == [10, 100, 1000, 1440]


def test_upsert_cross_partition_conflict_drops_stale_partition(spark, sink):
    """Round-4 twin finding: when a key's newer row lands in a DIFFERENT
    date partition, dynamic overwrite never rewrites the loser's
    partition — the stale duplicate survived on disk. The warehouse
    MERGE twin updates in place; the parquet path must drop the emptied
    partition to match."""
    sink.upsert(_df(spark, [("m1", _ts("2024-03-01T00:00:00"), "v1")]), "xp")
    sink.upsert(
        _df(spark, [("m1", _ts("2024-03-02T00:00:00"), "v2"),
                    ("m2", _ts("2024-03-01T12:00:00"), "other")]),
        "xp",
    )
    rows = {(r.message_id, r.v) for r in sink.read("xp").collect()}
    # m1 appears ONCE (newer wins, old partition's copy gone); m2 keeps
    # the 03-01 partition alive so it is rewritten, not deleted
    assert rows == {("m1", "v2"), ("m2", "other")}


def test_upsert_cross_partition_conflict_removes_emptied_dir(spark, sink):
    import os

    sink.upsert(_df(spark, [("mA", _ts("2024-04-01T00:00:00"), "a")]), "xp2")
    sink.upsert(_df(spark, [("mA", _ts("2024-04-05T00:00:00"), "a2")]), "xp2")
    rows = {(r.message_id, r.v) for r in sink.read("xp2").collect()}
    assert rows == {("mA", "a2")}
    # the emptied 04-01 partition directory is physically gone
    assert not os.path.isdir(
        os.path.join(sink.base_dir, "xp2", "_p_date=2024-04-01")
    )


def test_retry_ack_and_dlq_idempotence(spark, tmp_path):
    """Round-9 spine review finding #4: a successfully replayed message
    must stop being 'due' (record_success tombstone), and repeated
    dead_letter() runs must not re-append the same rows to the DLQ."""
    from jitsu_spark.streaming.retries import RetryStore

    store = RetryStore(spark, str(tmp_path))
    failed = spark.createDataFrame(
        [("m1", 0, "boom"), ("m3", 3, "dead")],
        "message_id string, attempt int, err string",
    )
    store.record_failures(failed, "err", "2024-01-01 00:00:00")
    late = "2024-01-02 00:00:00"
    assert [r.message_id for r in store.due(late).collect()] == ["m1"]
    # replay succeeded: ack -> never due again, and never dead-lettered
    store.record_success(
        spark.createDataFrame([("m1",)], "message_id string"), late
    )
    assert store.due(late).count() == 0
    assert store.due("2030-01-01 00:00:00").count() == 0
    # dead-letter m3 once; the second run is a no-op
    d1 = store.dead_letter(late)
    assert [r.message_id for r in d1.collect()] == ["m3"]
    d2 = store.dead_letter(late)
    assert d2.count() == 0
    assert spark.read.parquet(store.dlq_dir).count() == 1
    # a NEW failure recorded after the ack RE-OPENS the message —
    # recency keys on recorded time, not attempt value
    store.record_failures(
        spark.createDataFrame(
            [("m1", 0, "boom-again")], "message_id string, attempt int, err string"
        ),
        "err",
        "2024-01-03 00:00:00",
    )
    assert [
        r.message_id for r in store.due("2024-01-04 00:00:00").collect()
    ] == ["m1"]


def test_upsert_forward_window_dedup(spark, tmp_path):
    """Round-9 spine review finding #2: an out-of-order redelivery dated
    BEFORE an existing same-key row must still merge against it —
    newest-wins keeps the existing row and the stale batch row is not
    written as a duplicate."""
    from jitsu_spark.sinks import WarehouseSink

    sink = WarehouseSink(spark, str(tmp_path))
    newer = spark.createDataFrame(
        [("mX", _ts("2024-03-10T00:00:00"), "new")],
        "message_id string, ts timestamp, payload string",
    )
    sink.upsert(newer, "ev")
    older = spark.createDataFrame(
        [("mX", _ts("2024-03-01T00:00:00"), "stale")],
        "message_id string, ts timestamp, payload string",
    )
    sink.upsert(older, "ev")
    rows = sink.read("ev").collect()
    assert len(rows) == 1
    assert rows[0].payload == "new"


def test_upsert_null_timestamp_rows(spark, tmp_path):
    """Round-9 finding #6: a null event timestamp must not crash the
    second upsert (min/max over None) — it lands in the Hive default
    partition and dedups against other null-ts rows."""
    from jitsu_spark.sinks import WarehouseSink

    sink = WarehouseSink(spark, str(tmp_path))
    b1 = spark.createDataFrame(
        [("m1", _ts("2024-03-01T00:00:00"), "a")],
        "message_id string, ts timestamp, payload string",
    )
    sink.upsert(b1, "ev")
    b2 = spark.createDataFrame(
        [("m2", None, "null-ts"), ("m3", _ts("2024-03-02T00:00:00"), "b")],
        "message_id string, ts timestamp, payload string",
    )
    sink.upsert(b2, "ev")  # previously TypeError on min(None, date)
    got = {r.message_id: r.payload for r in sink.read("ev").collect()}
    assert got == {"m1": "a", "m2": "null-ts", "m3": "b"}


def test_write_routed_null_table_quarantined(spark, tmp_path):
    """Round-9 finding #7: a null routing value neither vanishes nor
    crashes — the row lands in the _unroutable quarantine table."""
    from jitsu_spark.sinks import UNROUTABLE_TABLE, WarehouseSink

    sink = WarehouseSink(spark, str(tmp_path))
    df = spark.createDataFrame(
        [
            ("m1", _ts("2024-03-01T00:00:00"), "tracks"),
            ("m2", _ts("2024-03-01T00:00:00"), None),
        ],
        "message_id string, ts timestamp, _table string",
    )
    tables = sink.write_routed(df)
    assert sorted(tables) == sorted(["tracks", UNROUTABLE_TABLE])
    assert sink.read("tracks").count() == 1
    q = sink.read(UNROUTABLE_TABLE).collect()
    assert [r.message_id for r in q] == ["m2"]


def test_compact_honors_target_file_count(spark, tmp_path):
    """Round-9 finding #10: compact(target=N) must actually produce up
    to N files per date partition (hash-by-date alone always made 1)."""
    import glob
    import os

    from jitsu_spark.sinks import WarehouseSink

    sink = WarehouseSink(spark, str(tmp_path))
    rows = [
        (f"m{i}", _ts("2024-03-01T00:00:00"), f"p{i}") for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "message_id string, ts timestamp, payload string"
    ).repartition(16)
    sink.append(df, "ev")
    part_dir = os.path.join(str(tmp_path), "ev", "_p_date=2024-03-01")
    assert len(glob.glob(part_dir + "/*.parquet")) > 4
    sink.compact("ev", target_files_per_partition=4)
    n = len(glob.glob(part_dir + "/*.parquet"))
    assert 1 < n <= 4, n
    assert sink.read("ev").count() == 400


def test_upsert_reads_null_partition_for_dated_batch(spark, sink):
    """The null partition is part of every MERGE window: a key first seen
    with a null timestamp and then redelivered with a real one must end
    up once, in the dated partition."""
    import os

    sink.upsert(_df(spark, [("m1", None, "null-ts")]), "np")
    sink.upsert(_df(spark, [("m1", _ts("2024-03-02T00:00:00"), "dated")]), "np")
    rows = [(r.message_id, r.v) for r in sink.read("np").collect()]
    assert rows == [("m1", "dated")]
    assert not os.path.isdir(
        os.path.join(sink.base_dir, "np", "_p_date=__HIVE_DEFAULT_PARTITION__")
    )


def test_write_routed_merge_writes_one_file_per_date(spark, sink):
    """The MERGE is one uncached read-merge-write that AQE sizes: every
    date partition a batch touches is rewritten as a single part file, and
    no key is stored twice, including a late row landing in an older date."""
    import glob
    import os
    from collections import Counter

    tables = ["tracks", "pages", "identifies"]

    def batch(lo, n, day, late=()):
        rows = [
            (f"m{i}", _ts(f"2024-03-{day:02d}T{i % 24:02d}:00:00"), tables[i % 3])
            for i in range(lo, lo + n)
        ]
        return spark.createDataFrame(
            rows + list(late), "message_id string, ts timestamp, _table string"
        ).repartition(8)

    sink.write_routed(batch(0, 60, 1))  # the three tables exist
    sink.write_routed(batch(30, 60, 2))  # m30..m59 redelivered a day later
    # a late new key lands in the existing 03-01 partition of `tracks`
    sink.write_routed(batch(90, 60, 3, [("late", _ts("2024-03-01T23:00:00"), "tracks")]))
    for t in tables:
        parts = glob.glob(os.path.join(sink.base_dir, t, "_p_date=*"))
        assert len(parts) == 3, parts
        for p in parts:
            assert len(glob.glob(os.path.join(p, "*.parquet"))) == 1, p
        ids = Counter(r.message_id for r in sink.read(t).collect())
        assert max(ids.values()) == 1, t
    got = {r.message_id for t in tables for r in sink.read(t).collect()}
    assert got == {f"m{i}" for i in range(150)} | {"late"}


def _routed(spark, rows):
    return spark.createDataFrame(rows, "message_id string, ts timestamp, v string, _table string")


def test_write_routed_jobs_inherit_callers_job_group(spark, sink):
    """The per-table writes run on pool threads that inherit the caller's
    local properties: a stream's job group (what `query.stop()` cancels)
    covers every job the fan-out issues."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    rows = [(f"m{i}", _ts(f"2024-03-0{1 + i % 2}T00:00:00"), "x", f"t{i % 4}") for i in range(40)]
    sink.write_routed(_routed(spark, rows))  # the tables exist: every MERGE reads and writes
    ungrouped = set(tracker.getJobIdsForGroup(None))
    grouped = set(tracker.getJobIdsForGroup("g7"))
    sc.setJobGroup("g7", "routed batch", interruptOnCancel=True)
    try:
        tables = sink.write_routed(_routed(spark, rows))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert sorted(tables) == ["t0", "t1", "t2", "t3"]
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    # routing collect + 4 × (schema read, MERGE write) at least
    assert len(set(tracker.getJobIdsForGroup("g7")) - grouped) >= 9


def test_write_routed_failure_raises_after_other_tables(spark, sink):
    """One table's MERGE fails (its stored parquet has conflicting types
    for `v`, so the mergeSchema read cannot merge them): `write_routed`
    raises, the other tables are fully written, and the routed cache is
    released."""
    import os

    bad = os.path.join(sink.base_dir, "bad")
    spark.createDataFrame([("b1", _ts("2024-03-01T00:00:00"), 1)], "message_id string, ts timestamp, v int") \
        .write.parquet(os.path.join(bad, "_p_date=2024-03-01"))
    spark.createDataFrame([("b2", _ts("2024-03-02T00:00:00"), "s")], "message_id string, ts timestamp, v string") \
        .write.parquet(os.path.join(bad, "_p_date=2024-03-02"))
    rows = [(f"m{i}", _ts("2024-03-02T00:00:00"), "x", ["a", "b", "c", "bad"][i % 4]) for i in range(40)]
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception) as err:
        sink.write_routed(_routed(spark, rows))
    assert "v" in str(err.value)
    for t in "abc":
        got = {r.message_id for r in sink.read(t).collect()}
        assert got == {f"m{i}" for i in range(40) if i % 4 == "abc".index(t)}, t
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_write_routed_matches_newest_wins_model(spark, sink):
    """Randomized routed batches (redeliveries newer and older, null
    timestamps, late keys into older dates, in-batch duplicates) against a
    pure-Python newest-wins model: every table holds exactly the model's
    rows, no key twice, and no `_p_date=` directory is left empty."""
    import glob
    import os
    import random
    from collections import Counter

    rnd = random.Random(7)
    tables = [f"t{i:02d}" for i in range(12)]
    model: dict[tuple[str, str], tuple] = {}  # (table, key) -> (order, v)
    null_used: set[str] = set()
    seq = 0
    keys: list[str] = []
    for b in range(3):
        rows = []
        new = [f"k{b}_{i}" for i in range(60)]
        picks = new + rnd.sample(keys, min(len(keys), 30)) + rnd.sample(new, 5)
        for k in picks:
            seq += 1  # a distinct second per row: no timestamp ties
            if k not in null_used and rnd.random() < 0.1:
                null_used.add(k)
                ts = None
            else:
                day = rnd.randint(1, 3) if rnd.random() < 0.3 else 3 + b  # late keys land in older dates
                ts = dt.datetime(2024, 3, day) + dt.timedelta(seconds=seq)
            t = tables[int(k.split("_")[1]) % 12]
            v = f"{k}@{seq}"
            rows.append((k, ts, v, t))
            order = ts or dt.datetime(1900, 1, 1)
            if (t, k) not in model or order > model[(t, k)][0]:
                model[(t, k)] = (order, v)
        keys += new
        rnd.shuffle(rows)
        sink.write_routed(_routed(spark, rows).repartition(4))
    for t in tables:
        got = [(r.message_id, r.v) for r in sink.read(t).collect()]
        assert max(Counter(k for k, _ in got).values()) == 1, t
        assert dict(got) == {k: v for (tt, k), (_, v) in model.items() if tt == t}, t
        for part in glob.glob(os.path.join(sink.base_dir, t, "_p_date=*")):
            assert glob.glob(os.path.join(part, "*.parquet")), part
