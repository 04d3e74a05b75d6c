"""Analytics workload: event-analytics registry entries and console SELECTs
over a Zipf-skewed typed `events` table. Reads only.

The generator process writes the table before the program starts. Set-up
runs every entry and query once and keeps the results. The measured
passes then repeat them: an entry is the registry call that builds the
DataFrame (plan) followed by a noop write (exec); a gateway query is
validate + guarded_query + collect. After the run, each set-up entry
result is checked against DuckDB (the entry's ORACLE SQL) and every
gateway answer against the same SELECT on DuckDB.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import math
import os
import time

from . import gen
from .common import Run, generate, timed_gateway_query
from .trace import Tracer, median

N_EVENTS = 10_000
N_USERS = 1_000

# module (per-layer metric prefix) -> the registry entries a pass runs: a
# fixed subset of each event-analytics module, so that set-up plus a few
# warm passes fit one run (the modules' 54 entries take ~35 s per warm pass
# at this size on 4 cores).
ENTRIES = {
    "identity": ("jitsu_spark.operators.identity", ("identity_stitch",)),
    "profiles": ("jitsu_spark.operators.profiles", ("profile_build",)),
    "reports": ("jitsu_spark.operators.reports", ("attribution_multi_touch",)),
    "events_ops": ("jitsu_spark.operators.events_ops", ("sessionize", "active_users_daily_approx")),
    "rollup": ("jitsu_spark.operators.rollup", ("quantile_sketch_rollup",)),
    "geo": ("jitsu_spark.operators.geo", ("geo_enrich_range_join",)),
    "asof": ("jitsu_spark.operators.asof", ("asof_signup_attribution",)),
    "layouts": ("jitsu_spark.events.layouts", ("layout_segment_fanout",)),
    "destinations": ("jitsu_spark.events.destinations", ("ga4_mapping_typed",)),
    "destinations_crm": ("jitsu_spark.events.destinations_crm", ("hubspot_mapping_typed",)),
    "throttle": ("jitsu_spark.plans.throttle", ("throttle_shed_events",)),
}

# Console SELECTs over the `events` view; each answer is fully ordered and
# under the gateway's 50-row cap, so it compares row for row with DuckDB.
# Three per-type shapes for each event type, then five whole-table ones:
# 20 samples a pass.
GATEWAY_QUERIES = tuple(
    sql.format(t=t)
    for t in gen.EVENT_TYPES
    for sql in (
        "SELECT user_id, count(*) AS n FROM events WHERE event_type = '{t}' "
        "GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10",
        "SELECT CAST(ts AS DATE) AS d, count(*) AS n, count(DISTINCT user_id) AS users FROM events "
        "WHERE event_type = '{t}' GROUP BY CAST(ts AS DATE) ORDER BY d",
        "SELECT hour(ts) AS h, count(*) AS n FROM events WHERE event_type = '{t}' GROUP BY hour(ts) ORDER BY h",
    )
) + (
    "SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users, sum(value) AS total "
    "FROM events GROUP BY event_type ORDER BY event_type",
    "SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY CAST(ts AS DATE) ORDER BY d",
    "SELECT e.user_id, count(*) AS n FROM events e JOIN (SELECT user_id FROM events "
    "WHERE event_type = 'purchase' GROUP BY user_id HAVING count(*) >= 3) s ON e.user_id = s.user_id "
    "GROUP BY e.user_id ORDER BY n DESC, e.user_id LIMIT 10",
    "SELECT user_id, event_id FROM (SELECT user_id, event_id, row_number() OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events) f "
    "WHERE rn = 1 ORDER BY event_id LIMIT 20",
    "SELECT hour(ts) AS h, count(*) AS n FROM events GROUP BY hour(ts) ORDER BY h",
)


# -- result comparison (the registry's DuckDB hash rule) ----------------------
# The same rule as tools/check_oracle.py, kept here so the benchmark does not
# change when the repository's tools do.


def _cell(v) -> str:
    if v is None or v != v:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return json.dumps([_cell(x) for x in list(v)])
    return str(v)


def value_hash(pdf) -> str:
    """Order-insensitive hash of a result: columns sorted by name, cells
    rendered exactly, rows sorted."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).map(_cell)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


def same_rows(got: list, want: list) -> bool:
    """Ordered row equality; floats agree to 1e-9 relative (the engines sum
    in different orders)."""
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(float(x), float(y), rel_tol=1e-9):
                    return False
            elif hasattr(x, "isoformat") and hasattr(y, "isoformat"):
                if x.isoformat() != y.isoformat():
                    return False
            elif x != y:
                return False
    return True


def _entry_problem(sdf, ddf) -> str | None:
    if len(sdf) != len(ddf):
        return f"rows {len(sdf)} vs {len(ddf)}"
    if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, ddf.columns)):
        return "columns differ"
    if value_hash(sdf) != value_hash(ddf):
        return "value hash differs"
    return None


# -- the workload -------------------------------------------------------------


def generate_inputs(work: str, seed: int, seconds: float) -> None:
    generate("events", "--seed", str(seed), "--out", os.path.join(work, "data", "events.parquet"),
             "--events", str(N_EVENTS), "--users", str(N_USERS))


def measure(spark, tracer: Tracer, run: Run, work: str, seed: int, seconds: float):
    """Set-up and the measured passes. Returns the metrics and the
    correctness check, which the caller runs after the memory sampler has
    stopped."""
    from jitsu_spark.tables import load_table

    sf_dir = os.path.join(work, "data")
    entries = []
    for module, (path, names) in ENTRIES.items():
        mod = importlib.import_module(path)
        entries += [(module, n, mod.QUERIES[n], mod.ORACLE[n]) for n in names]
    allowed = {"events"}

    # set-up: every entry and SELECT once, warm; results kept for checks
    t_setup = time.perf_counter()
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    results = {}
    for module, name, fn, _ in entries:
        try:
            results[name] = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            run.attempted += 1
            run.fail(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
    answers = [(sql, timed_gateway_query(spark, tracer, run, sql, allowed)) for sql in GATEWAY_QUERIES]
    run.query_s.clear()
    setup_s = time.perf_counter() - t_setup
    tracer.flush()

    # measured passes: an entry is timed into its module's plan/exec spans
    # and the pass; only the gateway SELECTs are query samples
    per_module: list[dict] = []
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < seconds:
        t_pass = time.perf_counter()
        spent = dict.fromkeys((f"{m}.{k}" for m in ENTRIES for k in ("plan_s", "exec_s")), 0.0)
        with tracer.span("analytics.pass") as sp:
            for module, name, fn, _ in entries:
                run.attempted += 1
                try:
                    t0 = time.perf_counter()
                    with tracer.span(f"{module}.plan", entry=name):
                        df = fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span(f"{module}.exec", entry=name):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                except Exception as ex:
                    run.fail(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
                    continue
                spent[f"{module}.plan_s"] += t1 - t0
                spent[f"{module}.exec_s"] += t2 - t1
            answers += [(sql, timed_gateway_query(spark, tracer, run, sql, allowed)) for sql in GATEWAY_QUERIES]
        run.op_s.append(time.perf_counter() - t_pass)
        per_module.append(spent)
        if sp is not None:
            run.op_spans.append(sp)
        tracer.flush()

    out = {
        "setup_s": setup_s,
        "events_per_s": N_EVENTS * len(run.op_s) / sum(run.op_s) if run.op_s else 0.0,
        "batch_p50_s": median(run.op_s) if run.op_s else 0.0,
        "suite_s": median(run.op_s) if run.op_s else 0.0,
    }
    if tracer.enabled and per_module:
        out["_layers"] = {k: median([p[k] for p in per_module]) for k in per_module[0]}
    return out, lambda: check_results(run, os.path.join(sf_dir, "events.parquet"), entries, results, answers)


def check_results(run: Run, table: str, entries: list, results: dict, answers: list) -> None:
    """Each entry's set-up result against its DuckDB ORACLE SQL, and every
    gateway answer (set-up and measured passes) against DuckDB's."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{table}'")
    for module, name, fn, oracle in entries:
        if name not in results:
            continue
        run.attempted += 1
        problem = _entry_problem(results[name], con.execute(oracle).df())
        if problem:
            run.fail(f"{name}: {problem}")
    duck = {sql: con.execute(sql).fetchall() for sql in GATEWAY_QUERIES}
    con.close()
    for sql, rows in answers:
        if rows is not None and not same_rows([tuple(r) for r in rows], duck[sql]):
            run.fail(f"gateway answer differs: {sql[:80]}")
