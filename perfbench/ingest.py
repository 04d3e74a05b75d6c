"""ingest_merge: Segment JSON lines replayed through the streaming spine.

    text file stream -> run_pipeline -> compile_pipeline (no user
    functions, `segment` multi-table layout) -> WarehouseSink.write_routed
    (deduplicate=True: one MERGE per routed table)

The generator process writes the history and the batch files before the
program starts. Set-up pre-loads the warehouse with the history (inside
the 31-day dedup window), starts the stream and commits one warm-up batch.
The measured loop is closed: the benchmark lands one batch file, waits
until the stream has committed it (`processAllAvailable`), then lands the
next, until the run's seconds are spent. Each run starts from fresh
checkpoint and warehouse directories and replays the same seeded
schedule. After the stream stops, one pass of the console's read-back
queries runs over the written tables.
"""

from __future__ import annotations

import glob
import json
import math
import os
import sys
import time
from collections import Counter
from datetime import datetime

from . import gen
from .common import Run, generate, timed_gateway_query
from .trace import Tracer, median

LAYOUT = "segment"
HISTORY_EVENTS = 5_000
BATCH_EVENTS = 5_000
MIN_BATCH_S = 2.5  # the shortest batch the generated inputs last `seconds` for
READ_QUERIES = (
    "SELECT _p_date, count(*) AS n FROM {v} GROUP BY _p_date ORDER BY _p_date",
    "SELECT count(*) AS n, count(DISTINCT message_id) AS keys FROM {v}",
    "SELECT message_id, timestamp FROM {v} ORDER BY timestamp DESC, message_id LIMIT 20",
)


def traced_sink(spark, base_dir: str, tracer: Tracer):
    from jitsu_spark.sinks import WarehouseSink

    class TracedSink(WarehouseSink):
        """Times each call into the sink; the work is the parent class's."""

        def write_routed(self, df, *args, **kwargs):
            with tracer.span("sinks.write_routed"):
                return super().write_routed(df, *args, **kwargs)

        def upsert(self, df, table, *args, **kwargs):
            with tracer.span("sinks.upsert", table=table):
                return super().upsert(df, table, *args, **kwargs)

    return TracedSink(spark, base_dir)


def make_transform(tracer: Tracer):
    """compile_pipeline's (_table, event) rows plus the sink's key and
    timestamp columns, read from the layouted event."""
    from pyspark.sql import functions as F

    from jitsu_spark.plans.chain import ConnectionConfig, compile_pipeline

    pipe = compile_pipeline(ConnectionConfig(connection_id="perfbench", layout=LAYOUT))

    def transform(batch):
        with tracer.span("chain.compile"):
            out = pipe(batch.select(F.col("value").alias("event")))
            return out.select(
                "_table",
                F.get_json_object("event", "$.message_id").alias("message_id"),
                F.get_json_object("event", "$.timestamp").cast("timestamp").alias("timestamp"),
                "event",
            )

    return transform


def generate_inputs(work: str, seed: int, seconds: float) -> None:
    """The history and the warm-up plus enough batches for `seconds` of
    batches no shorter than MIN_BATCH_S, written before the program starts."""
    batches = 1 + math.ceil(seconds / MIN_BATCH_S)
    generate("segment", "--seed", str(seed), "--out", os.path.join(work, "staging"),
             "--history", str(HISTORY_EVENTS), "--batch-events", str(BATCH_EVENTS),
             "--batches", str(batches))


def measure(spark, tracer: Tracer, run: Run, work: str, seed: int, seconds: float):
    """Set-up, the measured loop and the read-back. Returns the metrics and
    the correctness check, which the caller runs after the memory sampler
    has stopped."""
    from jitsu_spark.streaming.pipeline import run_pipeline

    src, staging, wh = (os.path.join(work, d) for d in ("src", "staging", "wh"))
    os.makedirs(src)
    staged = sorted(f for f in os.listdir(staging) if f != gen.HISTORY_FILE)
    sink = traced_sink(spark, wh, tracer)
    transform = make_transform(tracer)

    def land(i: int) -> tuple[float, int]:
        """Land batch i and wait for its commit. Returns (seconds, input
        bytes); raises if the stream failed."""
        name = staged[i]
        nbytes = os.path.getsize(os.path.join(staging, name))
        t0 = time.perf_counter()
        os.rename(os.path.join(staging, name), os.path.join(src, name))
        query.processAllAvailable()
        return time.perf_counter() - t0, nbytes

    t_setup = time.perf_counter()
    with tracer.span("setup.preload"):
        history = spark.read.text(os.path.join(staging, gen.HISTORY_FILE))
        sink.write_routed(transform(history), timestamp_col="timestamp")
    query = run_pipeline(
        spark.readStream.option("maxFilesPerTrigger", 1).text(src),
        sink,
        checkpoint_dir=os.path.join(work, "ckpt"),
        transform=transform,
        timestamp_col="timestamp",
        trigger={"processingTime": "0 seconds"},
    )
    batches: list[dict] = []
    setup_s = None
    try:
        with tracer.span("setup.warmup"):
            land(0)  # spawns the Python workers and compiles the MERGE plans
        setup_s = time.perf_counter() - t_setup
        tracer.flush()

        t_start = time.perf_counter()
        i = 1
        while time.perf_counter() - t_start < seconds:
            if i == len(staged):
                print(f"all {i - 1} generated batches committed before the deadline", file=sys.stderr)
                break
            run.attempted += 1
            with tracer.span("streaming.batch", batch=i) as sp:
                dt, nbytes = land(i)
            rec = {"events": BATCH_EVENTS, "bytes": nbytes, "span": sp}
            if tracer.enabled:
                rec["progress"] = _progress(query, i)
                tracer.flush()
                run.op_spans.append(sp)
            batches.append(rec)
            run.op_s.append(dt)
            i += 1
    except Exception as ex:  # the stream died: the batch in flight failed
        run.fail(f"stream: {type(ex).__name__}: {str(ex)[:300]}")
    finally:
        query.stop()
    if setup_s is None:
        setup_s = time.perf_counter() - t_setup

    entries = os.listdir(wh) if os.path.isdir(wh) else []
    tables = sorted(t for t in entries if not t.startswith((".", "_")))
    suite_s, answers = read_back(spark, tracer, run, sink, tables)
    out = {
        "setup_s": setup_s,
        "events_per_s": sum(b["events"] for b in batches) / sum(run.op_s) if run.op_s else 0.0,
        "batch_p50_s": median(run.op_s) if run.op_s else 0.0,
        "suite_s": suite_s,
    }
    if tracer.enabled:
        out["_layers"] = ingest_layers(tracer, batches, wh, tables)
    delivered = [os.path.join(staging, gen.HISTORY_FILE)] + [os.path.join(src, f) for f in sorted(os.listdir(src))]
    return out, lambda: check_tables(run, wh, delivered, entries, answers)


def _progress(query, batch_id: int) -> dict:
    """The stream's own progress report for batch_id (posted right after
    the commit, so poll briefly)."""
    deadline = time.monotonic() + 2.0
    while time.monotonic() < deadline:
        for p in reversed(query.recentProgress):
            if p["batchId"] == batch_id:
                return {
                    "trigger_ms": p["durationMs"].get("triggerExecution", 0),
                    "add_batch_ms": p["durationMs"].get("addBatch", 0),
                    "input_rows": p["numInputRows"],
                }
        time.sleep(0.01)
    return {"trigger_ms": 0, "add_batch_ms": 0, "input_rows": 0}


def view_name(table: str) -> str:
    return "t_" + "".join(c if c.isalnum() else "_" for c in table.lower())


def read_back(spark, tracer: Tracer, run: Run, sink, tables: list[str]):
    """The console's view of the freshly written warehouse: per table, the
    read plus three guarded SELECTs. Returns the pass's wall time and its
    answers, which check_tables compares with the reference."""
    allowed = {view_name(t) for t in tables}
    answers = {}
    t0 = time.perf_counter()
    with tracer.span("gateway.pass"):
        for t in tables:
            sink.read(t).createOrReplaceTempView(view_name(t))
            for sql in READ_QUERIES:
                answers[(t, sql)] = timed_gateway_query(spark, tracer, run, sql.format(v=view_name(t)), allowed)
    suite_s = time.perf_counter() - t0
    tracer.flush()
    return suite_s, answers


# -- correctness --------------------------------------------------------------


def expected_rows(delivered: list[str]) -> dict[str, dict[str, dict]]:
    """table -> {message_id: row}: the layout reference applied once to
    each distinct message of the delivered JSON-lines files (redeliveries
    are byte-identical)."""
    from jitsu_spark.events.layout_core import map_event

    out: dict[str, dict] = {}
    seen = set()
    for path in delivered:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                if ev["messageId"] in seen:
                    continue
                seen.add(ev["messageId"])
                for table, row in map_event(ev, LAYOUT):
                    out.setdefault(table, {})[row["message_id"]] = row
    return out


def read_parquet_rows(path: str) -> list[tuple[str, str]]:
    """(message_id, event) of every row of a table, read with pyarrow
    straight from its part files, independently of the program."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return []
    t = pq.ParquetDataset(files).read(columns=["message_id", "event"])
    return list(zip(t.column("message_id").to_pylist(), t.column("event").to_pylist()))


def _utc(ts: str) -> datetime:
    return datetime.fromisoformat(ts.replace("Z", "+00:00"))


def check_tables(run: Run, wh: str, delivered: list[str], entries: list[str], answers: dict) -> None:
    """Each routed table holds exactly the reference's distinct message
    ids, once each, with the reference's payload; no other table exists;
    and the read-back SELECTs agree with the reference."""
    want = expected_rows(delivered)
    run.attempted += 1
    stray = sorted(t for t in entries if not t.startswith(".") and t not in want)
    if stray:
        run.fail(f"unexpected tables {stray}")
    for table, ref in want.items():
        run.attempted += 1
        got = read_parquet_rows(os.path.join(wh, table))
        ids = Counter(m for m, _ in got)
        dups = sum(c - 1 for c in ids.values())
        if dups or set(ids) != set(ref):
            run.fail(f"{table}: {dups} duplicate keys, {len(set(ids) - set(ref))} extra, "
                     f"{len(set(ref) - set(ids))} missing")
            continue
        bad = [m for m, ev in got if json.loads(ev) != ref[m]]
        if bad:
            run.fail(f"{table}: payload differs for {len(bad)} rows, e.g. {bad[0]}")
            continue
        by_day, totals, latest = (answers.get((table, sql)) for sql in READ_QUERIES)
        newest = sorted(ref, key=lambda m: (-_utc(ref[m]["timestamp"]).timestamp(), m))[:20]
        per_day = sorted(Counter(_utc(r["timestamp"]).date() for r in ref.values()).items())
        ok = (
            by_day is not None and totals is not None and latest is not None
            and [(r[0], r[1]) for r in by_day] == per_day
            and (totals[0][0], totals[0][1]) == (len(ref), len(ref))
            and [r[0] for r in latest] == newest
        )
        if not ok:
            run.fail(f"{table}: read-back answers differ from the reference")


# -- per-layer report ---------------------------------------------------------


def _python_nodes(tracer: Tracer, batch_span: int) -> tuple[Counter, Counter, Counter]:
    """(chain, filter, layout) node totals of the executions inside one
    batch: the chain is the lower MapInPandas, the layout the upper, and
    the Filter between them drops the chain's tombstones."""
    tot = (Counter(), Counter(), Counter())
    for ex in tracer.python_nodes:
        if ex["span"] is None or not tracer.within(batch_span, ex["span"]):
            continue
        pandas = [i for i, n in enumerate(ex["nodes"]) if n["name"] == "MapInPandas"]
        if len(pandas) != 2:
            continue
        upper, lower = (ex["nodes"][i] for i in pandas)
        filt = next((n for n in ex["nodes"][pandas[0] + 1:] if n["name"] == "Filter"), {})
        for acc, node in zip(tot, (lower, filt, upper)):
            acc.update({k: v for k, v in node.items() if k != "name"})
    return tot


def ingest_layers(tracer: Tracer, batches: list[dict], wh: str, tables: list[str]) -> dict:
    per = []
    for b in batches:
        chain, filt, layout = _python_nodes(tracer, b["span"])
        inside = [i for i in range(len(tracer.spans)) if tracer.within(b["span"], i)]
        routed = [i for i in inside if tracer.spans[i].name == "sinks.write_routed"]
        upserts = [i for i in inside if tracer.spans[i].name == "sinks.upsert"]
        sink_jobs = tracer.job_totals(routed)
        prog = b["progress"]
        per.append({
            "streaming.trigger_s": prog["trigger_ms"] / 1000,
            "streaming.add_batch_s": prog["add_batch_ms"] / 1000,
            "streaming.overhead_s": (prog["trigger_ms"] - prog["add_batch_ms"]) / 1000,
            "streaming.input_rows": prog["input_rows"],
            "chain.python_run_s": chain["time to run Python workers"],
            "chain.python_init_s": chain["time to initialize Python workers"],
            "chain.events_in": b["events"],
            "chain.events_out": chain["number of output rows"],
            "chain.errors": chain["number of output rows"] - filt["number of output rows"],
            "layouts.python_run_s": layout["time to run Python workers"],
            "layouts.python_init_s": layout["time to initialize Python workers"],
            "layouts.rows_per_event": layout["number of output rows"] / max(filt["number of output rows"], 1),
            "sinks.write_routed_s": sum(tracer.spans[i].duration for i in routed),
            "sinks.tables_per_batch": len(upserts),
            "sinks.upsert_s": sum(tracer.spans[i].duration for i in upserts),
            "sinks.upsert_calls": len(upserts),
            "sinks.jobs_per_batch": sink_jobs["jobs"],
            "sinks.bytes_written_per_input_byte": sink_jobs["output_bytes"] / b["bytes"],
        })
    out = {k: median([p[k] for p in per]) for k in per[0]} if per else {}
    files = [len(glob.glob(os.path.join(wh, t, "**", "*.parquet"), recursive=True)) for t in tables]
    out["sinks.files_per_table"] = sum(files) / len(files) if files else 0.0
    out["layouts.malformed"] = len(read_parquet_rows(os.path.join(wh, "_malformed")))
    return out
