"""JDBC warehouse sink integration tests against the embedded Derby driver
that ships with Spark — a real in-process JDBC database, so the MERGE
upsert path (bulker's deduplicate:true contract, destinations.tsx:134-147)
is exercised end to end, not mocked."""

from __future__ import annotations

import datetime as dt

import pytest

from jitsu_spark.sinks_jdbc import JdbcWarehouseSink, make_warehouse_sink

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
T1 = dt.datetime(2024, 1, 2, 0, 0, 0)


@pytest.fixture
def sink(spark, tmp_path):
    return JdbcWarehouseSink(
        spark,
        url=f"jdbc:derby:{tmp_path}/db;create=true",
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "message_id string, ts timestamp, payload string"
    )


def test_upsert_creates_then_merges_newer_wins(spark, sink):
    sink.upsert(_df(spark, [("m1", T0, "a"), ("m2", T0, "b")]), "events_j")
    assert sink.exists("events_j")
    # redelivery of m2 (older or equal ts) + new m3; newer m1 update
    sink.upsert(
        _df(spark, [("m1", T1, "A2"), ("m2", T0, "STALE"), ("m3", T0, "c")]),
        "events_j",
    )
    got = {
        r.message_id: (r.ts, r.payload)
        for r in sink.read("events_j").collect()
    }
    assert got["m1"] == (T1, "A2")  # newer wins
    assert got["m2"] == (T0, "STALE")  # equal ts: stage wins (>=), idempotent
    assert got["m3"] == (T0, "c")
    assert len(got) == 3  # no duplicate keys after redelivery


def test_exists_is_case_insensitive_no_overwrite_on_refold(spark, sink):
    """ADVICE r2: a case-folding mismatch in exists() made upsert()
    CREATE/overwrite an existing table — data loss. Derby stores
    identifiers upper-case; existence must hold for any asked case, and a
    re-upsert under a different spelling must MERGE, not recreate."""
    sink.upsert(_df(spark, [("m1", T0, "a")]), "case_j")
    assert sink.exists("case_j")
    assert sink.exists("CASE_J")
    assert sink.exists("Case_J")
    assert not sink.exists("case_j_missing")
    # different spelling of the same table must keep m1 (MERGE, not create)
    sink.upsert(_df(spark, [("m2", T0, "b")]), "CASE_J")
    got = {r.message_id for r in sink.read("case_j").collect()}
    assert got == {"m1", "m2"}


def test_upsert_dedups_within_batch(spark, sink):
    sink.upsert(
        _df(spark, [("m1", T0, "old"), ("m1", T1, "new")]), "dedup_j"
    )
    rows = sink.read("dedup_j").collect()
    assert len(rows) == 1
    assert rows[0].payload == "new"


def test_append_mode(spark, sink):
    sink.append(_df(spark, [("m1", T0, "a")]), "log_j")
    sink.append(_df(spark, [("m1", T0, "a")]), "log_j")
    assert sink.read("log_j").count() == 2  # deduplicate:false appends


def test_routed_write(spark, sink):
    df = spark.createDataFrame(
        [
            ("m1", T0, "tracks"),
            ("m2", T0, "pages"),
            ("m2", T0, "pages"),
        ],
        "message_id string, ts timestamp, _table string",
    )
    tables = sink.write_routed(df)
    assert sorted(tables) == ["pages", "tracks"]
    assert sink.read("tracks").count() == 1
    assert sink.read("pages").count() == 1  # deduped on message_id


def test_routed_write_merges_existing_tables_concurrently(spark, sink):
    """Four tables created by one routed batch, then MERGEd by a second:
    the concurrent per-table stage/MERGE/DROP statements do not collide."""
    tables = ["t0", "t1", "t2", "t3"]

    def batch(ts, tag):
        rows = [(f"m{i}", ts, tag, tables[i % 4]) for i in range(20)]
        return spark.createDataFrame(rows, "message_id string, ts timestamp, payload string, _table string")

    assert sorted(sink.write_routed(batch(T0, "old"))) == tables
    assert sorted(sink.write_routed(batch(T1, "new"))) == tables
    for t in tables:
        got = {r.message_id: r.payload for r in sink.read(t).collect()}
        assert got == {f"m{i}": "new" for i in range(20) if i % 4 == tables.index(t)}, t


def test_partitioned_parallel_read(spark, sink):
    rows = [(f"m{i}", T0, str(i)) for i in range(100)]
    df = spark.createDataFrame(
        rows, "message_id string, ts timestamp, n string"
    ).selectExpr("message_id", "ts", "CAST(n AS INT) AS n")
    sink.append(df, "wide_j")
    out = sink.read(
        "wide_j",
        partition_column="n",
        num_partitions=4,
        lower_bound=0,
        upper_bound=100,
    )
    assert out.rdd.getNumPartitions() == 4
    assert out.count() == 100


def test_identifier_validation(spark, sink):
    with pytest.raises(ValueError, match="identifier"):
        sink.upsert(_df(spark, [("m1", T0, "a")]), 'bad";DROP TABLE x--')


def test_catalog_dispatch(spark, tmp_path):
    from jitsu_spark.sinks import WarehouseSink

    jdbc = make_warehouse_sink(
        spark,
        {
            "destinationType": "postgres",
            "url": f"jdbc:derby:{tmp_path}/cat;create=true",
            "properties": {"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
        },
    )
    assert isinstance(jdbc, JdbcWarehouseSink)
    lake = make_warehouse_sink(
        spark, {"destinationType": "s3", "directory": str(tmp_path / "lake")}
    )
    assert isinstance(lake, WarehouseSink)


def test_routed_write_rejects_null_route_before_writing(spark, sink):
    """A null routing value has no JDBC quarantine table (`_unroutable` is
    not a valid unquoted Derby identifier): the batch is refused before
    any table is written."""
    df = spark.createDataFrame(
        [("m1", T0, "tracks"), ("m2", T0, None), ("m3", T0, "pages")],
        "message_id string, ts timestamp, _table string",
    )
    with pytest.raises(ValueError, match=r"1 row.*'_table'"):
        sink.write_routed(df)
    assert not sink.exists("tracks")
    assert not sink.exists("pages")
