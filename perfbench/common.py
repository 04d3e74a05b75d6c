"""What every workload shares: the work directory, the input generator
process, the Spark session, the process-tree memory sampler, timed gateway
queries and the run record."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

from .trace import Tracer, quantile


def host_cpus() -> int:
    """local[nproc]: the cores this process may run on."""
    return len(os.sched_getaffinity(0))


def make_workdir(root: str, workload: str, seed: int) -> str:
    """A fresh directory for one run's inputs, warehouse, checkpoints and
    Spark scratch; every path the run writes is under it."""
    work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def generate(*args: str) -> None:
    """Write inputs with `perfbench/gen.py` in a process of its own and wait
    for it, so that none of the generator's memory is the program's."""
    subprocess.run([sys.executable, "-m", "perfbench.gen", *args], check=True)


def start_spark(root: str, work: str):
    """The program's own session factory at local[nproc], with Spark's and
    Python's scratch space moved inside the work directory. Returns the
    session and its build time."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # wins over spark.local.dir
    # the launcher JVM that spark-submit runs first: no hsperfdata file in
    # the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        o for o in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if o
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    # a fixed heap (initial = max), touched in full at JVM start, keeps GC
    # sizing and pause time from drifting between runs, and makes the
    # heap's share of the RSS its configured size rather than however much
    # of it the collector happened to have touched when the sampler looked
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from jitsu_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cpus=host_cpus(),
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # -UsePerfData: no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for the process tree
    (JVM and Python workers) to end."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _descendants(pid: int) -> dict[int, int]:
    """Every process below pid, mapped to its parent."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = {}, [pid]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, []):
            out[c] = parent
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes (libraries, a forked worker's copy-on-write pages) counted
    1/n in each, so a sum over processes counts shared memory once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


class RssSampler:
    """Peak over time of the summed proportional RSS of this process and
    its descendants (the JVM and the Python workers), sampled every 0.5 s.
    A JVM child that has not yet exec'd (the JVM's command line) shares
    the JVM's memory and is skipped."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            tree = _descendants(me)
            cmd = {p: _cmdline(p) for p in [me, *tree]}
            total = _pss_kb(me) + sum(
                _pss_kb(p) for p, parent in tree.items()
                if not (cmd[p] == cmd[parent] and b"java" in cmd[p].split(b"\0", 1)[0])
            )
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


@dataclass
class Run:
    """One workload run: operations attempted and failed, timings, and the
    checks made after the clock stopped."""

    attempted: int = 0
    failed: int = 0
    op_s: list[float] = field(default_factory=list)  # batches or passes
    query_s: list[float] = field(default_factory=list)
    op_spans: list[int] = field(default_factory=list)  # traced runs only
    problems: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)


def timed_gateway_query(spark, tracer: Tracer, run: Run, sql: str, allowed: set[str]):
    """One console-style SELECT through the guarded gateway, timed from the
    call to the last collected row. Returns the rows, or None on error."""
    from jitsu_spark import gateway

    run.attempted += 1
    try:
        if tracer.enabled:
            with tracer.span("gateway.validate"):
                gateway.validate_select(sql, allowed, spark=spark)
        t0 = time.perf_counter()
        with tracer.span("gateway.query"):
            rows = gateway.guarded_query(spark, sql, allowed_tables=allowed).collect()
        run.query_s.append(time.perf_counter() - t0)
        return rows
    except Exception as ex:  # a refused or failed query counts as failed
        run.fail(f"gateway: {type(ex).__name__}: {str(ex)[:200]}")
        return None


def latency_metrics(run: Run) -> dict:
    """Query latency percentiles; 0 when no query completed (the run
    then also reports itself incorrect)."""
    q = run.query_s or [0.0]
    return {"query_p50_s": quantile(q, 50.0), "query_p90_s": quantile(q, 90.0)}
