"""Build-once-serve-many store memoization (round-9 refactor).

Several registry families memoize a derived store per (process,
dataset) — the LSH cluster map, the SimHash fingerprint table, the
shingle pair core (`operators/dedup.py`), the IVF-PQ store
(`operators/pq.py`) — whichever entry runs first pays the build and
every later entry serves the memo, the deployment's
build-once-serve-many shape. Each site had restated the same block
(stat-fingerprint key, memo dict, mkdtemp, `timed_build`, the
key-is-None fallback); this module states the contract once (round-9
review finding #7).

The fingerprint contract: a dataset key is the (path, per-file
size/mtime) tuple of the backing parquet, or None when the stat fails
(e.g. a race with dataset regeneration). None DISABLES memoization for
the call instead of returning a degenerate key that could collide
across dataset versions and serve a stale store. `plan_fingerprint`
applies the same contract to a DataFrame's plan, for the driver memos
keyed on a computation rather than a table file.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame


def dataset_fingerprint(sf_dir: str, table_file: str) -> tuple | None:
    """(abs sf_dir, ((name, size, mtime_ns), ...)) over the parquet file
    or directory `table_file` under `sf_dir`; None on stat failure."""
    path = os.path.join(sf_dir, table_file)
    parts = []
    try:
        if os.path.isdir(path):
            for name in sorted(os.listdir(path)):
                st = os.stat(os.path.join(path, name))
                parts.append((name, st.st_size, st.st_mtime_ns))
        else:
            st = os.stat(path)
            parts.append(("", st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return (os.path.abspath(sf_dir), tuple(parts))


def plan_fingerprint(df: DataFrame) -> tuple | None:
    """Freshness-aware identity of a DataFrame's logical computation:
    (analyzed semanticHash, (file, mtime_ns, size) per input file).

    The semanticHash canonicalizes expression ids but keeps relation
    identity — for local relations it covers the literal rows; for
    file-backed plans the mtime/size tokens make the key stale the
    moment any input file is rewritten (tables.load_table's freshness
    discipline). Returns None when the plan cannot be analyzed; callers
    must treat None as "never memoize"."""
    try:
        h = df._jdf.queryExecution().analyzed().semanticHash()
        toks = []
        for f in sorted(df.inputFiles()):
            p = f[5:] if f.startswith("file:") else f
            while p.startswith("//"):
                p = p[1:]
            st = os.stat(p)
            toks.append((f, st.st_mtime_ns, st.st_size))
        return (h, tuple(toks))
    except Exception:
        return None


def ensure_store(
    memo: dict,
    key,
    family: str,
    prefix: str,
    build: Callable[[str], None],
) -> str:
    """The memoized store path for `key`, building on first use.

    `build(path)` materializes the store at `path` (a fresh temp
    location) and is timed into the `store_builds` ledger under
    `family` so bench deltas stay attributable. `key=None` builds fresh
    WITHOUT memoizing (the stat-failure contract above)."""
    store = memo.get(key) if key is not None else None
    if store is None:
        from .store_builds import timed_build

        store = tempfile.mkdtemp(prefix=prefix) + "/store"
        with timed_build(family):
            build(store)
        if key is not None:
            memo[key] = store
    return store
