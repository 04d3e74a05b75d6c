"""Distributed prefix sums over value histograms (round 8).

The repo's percentile/rank machinery reduces a corpus to a DISTINCT-
VALUE histogram (bounded by value space, not row count) and then runs
`sum(cnt) OVER (ORDER BY value)` — a cumulative window with no
PARTITION BY, which Spark plans as a single-partition sort. That is
fine while the value space is small (counts, days, score buckets), but
some value spaces grow with the corpus (rounded monetary sums, Gumbel
keys): at 10^7-10^8 distinct values the one-task sort becomes the same
bottleneck the round-8 zipf fix removed.

`histogram_cnt_better` computes the identical quantity with NO global
single-partition stage over the values, fully LAZILY:

1. group to the (value, cnt) histogram (partial-agg friendly);
2. `repartitionByRange` on the value (equal values land together,
   partitions hold contiguous ranges) + sortWithinPartitions;
3. one Arrow pass emits each row's LOCAL prefix plus its partition id;
4. per-partition totals cumsum over a PARTITION-COUNT-sized frame (a
   window over n_partitions rows — metadata scale) broadcast-joins the
   offsets back on pid.

Everything is one lazy DAG — no driver collect, no eager job at query
construction, and no state baked from a prior evaluation: both the
totals branch and the join branch hang off the SAME range exchange
(reused by Catalyst; even a full re-evaluation re-derives pids and
offsets together), so cache eviction or recomputation can never pair
rows with stale offsets (r8 review finding: the earlier form broadcast
offsets collected from one evaluation, which a later re-execution of
the resampled range exchange could silently invalidate).

Output per distinct value: `cnt_better` = rows with a strictly better
value, and `n_total` — exactly the percent_rank() inputs, so a DuckDB
`percent_rank()` oracle stays the correctness twin bit-for-bit
(cnt_better/(n_total-1) is the same integer division on both engines).

`small_value_space=True` keeps the plain cumulative-window form — the
right plan when the CALLER can bound the value space (day counts,
event counts, score buckets ≪ 2^20 values): one task sorting a few MB
of skinny (v, cnt) rows beats the distributed machinery's extra
exchange + sampling pass. The flag is declared by the caller precisely
because deciding it at runtime would need an eager count job at query-
construction time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rank_unique(
    df: DataFrame,
    value_cols: list[str] | tuple,
    partitions: int | None = None,
) -> DataFrame:
    """Every row of `df` plus `cnt_better` (rows strictly smaller under
    the lexicographic ascending order of `value_cols`) and `n_total` —
    for inputs whose `value_cols` are JOINTLY UNIQUE per row (r13).

    This is the zero-histogram specialization of `histogram_cnt_better`:
    with unique keys the (value, cnt) histogram IS the input (cnt = 1
    everywhere), so the group-by exchange disappears entirely — one
    range exchange, one Arrow local-prefix pass, a partition-count-sized
    offsets window broadcast back on pid. Callers that previously paid
    histogram + rank + corpus-sized join-back (float keys that collide)
    instead make the key unique by composition — e.g. (gumbel_key,
    doc_id) ranks identically to gumbel_key with ties broken by doc_id,
    and a ties-equal rank is recovered as min(cnt_better) over the tie
    group (a skinny window), never a corpus join.

    Uniqueness is enforced without an aggregate: the range exchange puts
    equal keys in one partition, adjacent after the sort, so the Arrow
    pass compares each row's key with the previous row's (carried across
    batches) and raises on the first duplicate, like `carry=` does.
    Callers compose a per-row-unique column (doc_id) into value_cols,
    which makes collisions impossible by construction."""
    spark = df.sparkSession
    from pyspark.sql import functions as FF

    n_parts = partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    order = [FF.col(c).asc() for c in value_cols]
    ranged = df.repartitionByRange(n_parts, *order).sortWithinPartitions(
        *order
    )
    cols = list(df.columns)

    def local_prefix(batches):
        import numpy as np
        import pandas as pd
        from pyspark import TaskContext

        def same(a, b):
            return (a == b) | (pd.isna(a) & pd.isna(b))

        pid = TaskContext.get().partitionId()
        run = 0
        last = None  # key of the previous batch's last row
        for pdf in batches:
            if not len(pdf):
                continue
            keys = [pdf[c].to_numpy() for c in value_cols]
            dup_row = np.ones(len(pdf), dtype=bool)
            dup_row[0] = last is not None
            for k, v in enumerate(keys):
                dup_row[1:] &= same(v[1:], v[:-1])
                if last is not None:
                    dup_row[0] &= bool(same(v[0], last[k]))
            if dup_row.any():
                i = int(dup_row.argmax())
                dup = tuple(v[i] for v in keys)
                raise ValueError(
                    "rank_unique requires unique keys; duplicate value: "
                    f"{dup if len(dup) > 1 else dup[0]!r}"
                )
            last = [v[-1] for v in keys]
            out = pdf.copy()
            out["local_better"] = run + np.arange(len(pdf), dtype=np.int64)
            out["pid"] = np.int32(pid)
            run += len(pdf)
            yield out

    dtypes = dict(ranged.dtypes)
    schema = ", ".join(f"{c} {dtypes[c]}" for c in cols)
    from .topk import persist_bounded

    # persisted (skinny rows): the per-pid totals aggregate and the
    # caller-facing join both walk it — same rationale as the histogram
    # branch's with_pid persist
    with_pid = persist_bounded(
        ranged.mapInPandas(
            local_prefix, f"{schema}, local_better long, pid int"
        )
    )
    offsets = (
        with_pid.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("t"))
        .selectExpr(
            "pid",
            "coalesce(sum(t) OVER (ORDER BY pid"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)"
            " AS off",
            "sum(t) OVER () AS n_total",
        )
    )

    return with_pid.join(offsets, "pid").selectExpr(
        *cols, "local_better + off AS cnt_better", "n_total"
    )


def histogram_cnt_better(
    df: DataFrame,
    value_col: str,
    ascending: bool = True,
    partitions: int | None = None,
    small_value_space: bool = False,
    carry: tuple = (),
) -> DataFrame:
    """(v, cnt, [*carry,] cnt_better, n_total) for every DISTINCT value
    of `value_col` in `df` — `cnt_better` counts rows whose value is
    strictly better (smaller when ascending, descending otherwise).

    `carry` (r12): extra input columns carried through the rank as
    min() per distinct value. For callers whose value is UNIQUE per row
    (md5 permutation keys, composite lpad||md5 keys), the output row IS
    the input row plus its rank — eliminating the corpus-sized
    join-back every such caller previously paid (rank table joined back
    onto the keyed frame just to re-attach the payload columns). The
    caller DECLARES uniqueness by using carry, and the declaration is
    ENFORCED (r13, ADVICE r12 #2): a duplicate value raises at execution
    in both branches, because silently collapsing to one output row per
    distinct value would drop rows with no signal."""
    spark = df.sparkSession
    hist = df.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("cnt"),
        *[F.min(c).alias(c) for c in carry],
    )
    carry_cols = list(carry)
    direction = "" if ascending else "DESC"
    if small_value_space:
        # carry requires unique keys (see docstring); with duplicates the
        # join-back form's per-row fan-out is silently lost, so fail loud
        # (r13, ADVICE r12 #2). assert_true only evaluates on the
        # duplicate branch — zero cost when the caller's contract holds.
        cnt_expr = (
            "if(cnt > 1, CAST(raise_error(concat("
            "'histogram carry= requires unique keys; duplicate value: ',"
            " CAST(v AS STRING))) AS LONG), cnt) AS cnt"
            if carry_cols
            else "cnt"
        )
        return hist.selectExpr(
            "v",
            cnt_expr,
            *carry_cols,
            f"coalesce(sum(cnt) OVER (ORDER BY v {direction}"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)"
            " AS cnt_better",
            "sum(cnt) OVER () AS n_total",
        )

    order = F.col("v").asc() if ascending else F.col("v").desc()
    n_parts = partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ranged = hist.repartitionByRange(n_parts, order).sortWithinPartitions(
        order
    )

    def local_prefix(batches):
        import numpy as np
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        run = 0
        for pdf in batches:
            if not len(pdf):
                continue
            c = pdf["cnt"].to_numpy()
            if carry_cols and (c > 1).any():
                # carry requires unique keys (see docstring); duplicates
                # would silently collapse rows (r13, ADVICE r12 #2)
                dup = pdf["v"].iloc[int((c > 1).argmax())]
                raise ValueError(
                    "histogram carry= requires unique keys; duplicate"
                    f" value: {dup!r}"
                )
            cols = {
                "v": pdf["v"].values,
                "cnt": c,
            }
            for cc in carry_cols:
                cols[cc] = pdf[cc].values
            cols["local_better"] = run + np.concatenate(
                ([0], np.cumsum(c)[:-1])
            )
            cols["pid"] = pid
            out = pd.DataFrame(cols)
            run += int(c.sum())
            yield out

    dtypes = dict(ranged.dtypes)
    vtype = dtypes["v"]
    carry_schema = "".join(
        f", {c} {dtypes[c]}" for c in carry_cols
    )
    # r12: persist the prefix-summed histogram — both consumers below
    # (the per-pid offsets aggregate and the caller-facing join) walk
    # it, and without the persist each re-runs the input aggregate, the
    # range exchange and the Arrow prefix pass (every caller's input
    # lineage ran twice; measured 3x tokenize on curriculum_order).
    # Skinny frame (one row per distinct value), bounded-cache
    # lifecycle.
    from .topk import persist_bounded

    with_pid = persist_bounded(
        ranged.mapInPandas(
            local_prefix,
            f"v {vtype}, cnt long{carry_schema}, local_better long, pid int",
        )
    )
    # per-pid totals: n_partitions rows — the cumulative window here is
    # bounded by the PARTITION COUNT, not the value space
    offsets = (
        with_pid.groupBy("pid")
        .agg(F.sum("cnt").alias("t"))
        .selectExpr(
            "pid",
            "coalesce(sum(t) OVER (ORDER BY pid"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)"
            " AS off",
            "sum(t) OVER () AS n_total",
        )
    )
    return with_pid.join(offsets, "pid").selectExpr(
        "v", "cnt", *carry_cols, "local_better + off AS cnt_better", "n_total"
    )
