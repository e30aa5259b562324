"""One benchmark run: set-up, warm-up, timed window and output checks.

A run is a closed loop with one client thread: each op starts when the
previous one has returned. Ops are grouped in passes (one pass = the
whole unit of work of the workload, see workloads.py). The untraced
passes of the timed window give the end-to-end metrics. With tracing
on, the window interleaves traced passes with untraced ones, and the
traced passes give the per-layer metrics.
"""

from __future__ import annotations

import os
import re
import resource
import signal
import sys
import time
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.trace import SparkRest, Tracer, streaming_listener
from perfbench.workloads import (
    FETCH_AVAILABLE_BYTES,
    FETCH_CHUNK_GB,
    FETCH_CHUNKS,
    FETCH_COLUMN,
    FETCH_TABLE,
    MIX_QUERIES,
    WARMUP_PASSES,
    ChunkSummary,
    OpOrder,
    check_fetch_pass,
    key_checksum,
)
from tests.conftest import SF_SMOKE, frame_canon

# The sf0.1 fixture tables, next to the smoke-scale ones the tests read.
SF_DIR = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")
CANARY_ITERATIONS = 5_000_000
# The window runs whole passes for --seconds, and at least this many, so
# that each op kind's median has a middle sample even on a slow box.
MIN_WINDOW_PASSES = 3
# Warm-up is cut short once a run is this old, so that a very slow box
# still finishes its timed window inside the run's time limit.
WARMUP_DEADLINE_S = 110.0


def canary() -> float:
    """Seconds for a fixed pure-Python loop: box speed, not program speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CANARY_ITERATIONS):
        acc += i & 7
    return time.perf_counter() - t0


def memo_entries() -> int:
    """Entries in the program's module-level memo dicts (names ending in
    MEMO or BUILT), found by name so a refactor of the memos does not
    break the count."""
    total = 0
    for name, mod in list(sys.modules.items()):
        if not name.startswith("bqfetch_spark") or mod is None:
            continue
        for attr, val in vars(mod).items():
            if isinstance(val, dict) and re.fullmatch(r"_\w*(MEMO|BUILT)", attr):
                total += len(val)
    return total


def _first_line(exc: BaseException) -> str:
    text = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {text[0][:200] if text else ''}"


@dataclass
class Op:
    kind: str
    sec: float
    e0: float
    e1: float
    rows: int = 0
    rest: dict | None = None
    stream: list = field(default_factory=list)
    memo_growth: int = 0


@dataclass
class Pass:
    ops: list[Op]
    wall: float
    first_result: float | None = None


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 process_start: float, work_dir: str):
        self.workload = workload
        self.seconds = seconds
        self.traced = traced
        self.process_start = process_start
        self.work_dir = work_dir
        self.order = OpOrder(workload, seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer = Tracer() if traced else None
        self.rest: SparkRest | None = None
        self.listener = None
        self.info: dict = {}
        self.spark = None
        self.cold: dict[str, float] = {}  # query_mix: cold-pass latency per query
        self.memo_backed: set[str] = set()  # queries whose cold run grew a memo

    # -- ops ---------------------------------------------------------------

    def _fail(self, what: str, msg: str, n: int = 1) -> None:
        self.failed += n
        self.failures.append(f"{what}: {msg}")
        print(f"perfbench FAILED {what}: {msg}", flush=True)

    def _op(self, kind: str, call, traced: bool):
        """Run one op; returns (result, Op), or (None, None) if it raised."""
        self.attempted += 1
        e0, t0 = time.time(), time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"op:{kind}"):
                    result = call()
            else:
                result = call()
        except Exception as exc:  # a failing op is counted, the run goes on
            self._fail(kind, _first_line(exc))
            return None, None
        op = Op(kind, time.perf_counter() - t0, e0, time.time())
        if traced:
            self._drain_listener_bus()
            op.rest = self.rest.diff(op.e0, op.e1)
        return result, op

    def _drain_listener_bus(self) -> None:
        """Wait until Spark's listener bus has delivered every event so
        far: job ends reach the REST status store, and streaming progress
        reaches the listener, asynchronously."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    # -- fetch_bulk --------------------------------------------------------

    def _prepare_fetch(self) -> None:
        import pyarrow.parquet as pq

        from bqfetch_spark.fetcher import Fetcher, TableRef

        tbl = pq.read_table(
            os.path.join(SF_DIR, f"{FETCH_TABLE}.parquet"),
            columns=[FETCH_COLUMN, "l_linenumber"],
        )
        keys = tbl.column(FETCH_COLUMN).to_numpy()
        lines = tbl.column("l_linenumber").to_numpy()
        key_sum, pair_sum = key_checksum(keys, lines)
        self.expected = {"rows": tbl.num_rows, "key_sum": key_sum, "pair_sum": pair_sum}
        self.fetcher = Fetcher(self.spark)
        self.ref = TableRef(SF_DIR, FETCH_TABLE)

    def _fetch_pass(self, traced: bool) -> Pass:
        ops: list[Op] = []
        p0 = time.perf_counter()
        plan, op = self._op(
            "plan",
            lambda: self.fetcher.chunks(
                self.ref,
                FETCH_COLUMN,
                by_chunk_size_in_GB=FETCH_CHUNK_GB,
                available_bytes=FETCH_AVAILABLE_BYTES,
            ),
            traced,
        )
        if plan is None:
            return Pass(ops, time.perf_counter() - p0)
        ops.append(op)
        first = None
        summaries = []
        for i in self.order.next_pass(range(len(plan))):
            chunk = plan[i]
            pdf, op = self._op(
                "chunk", lambda c=chunk: self.fetcher.fetch_to_pandas(self.ref, c), traced
            )
            if pdf is None:
                continue
            if first is None:
                first = time.perf_counter() - p0
            op.rows = len(pdf)
            ops.append(op)
            keys = pdf[FETCH_COLUMN].to_numpy()
            key_sum, pair_sum = key_checksum(keys, pdf["l_linenumber"].to_numpy())
            summaries.append(ChunkSummary(
                index=chunk.index,
                lower=chunk.lower,
                upper=chunk.upper,
                rows=len(pdf),
                key_min=int(keys.min()) if len(keys) else None,
                key_max=int(keys.max()) if len(keys) else None,
                key_sum=key_sum,
                pair_sum=pair_sum,
            ))
            del pdf, keys
        wall = time.perf_counter() - p0
        errors = check_fetch_pass(summaries, self.expected, FETCH_CHUNKS)
        if errors:
            # the pass delivered wrong output, so none of its ops counts
            self._fail("fetch pass", "; ".join(errors), n=len(ops))
        return Pass(ops, wall, first_result=first)

    # -- query_mix ---------------------------------------------------------

    def _prepare_mix(self) -> None:
        """Cold pass in the fixed registry order: each query once,
        collected and compared with its DuckDB oracle."""
        import duckdb

        from bqfetch_spark.catalog import TABLES
        from bqfetch_spark.registry import all_queries

        self.registry = all_queries()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            )
        try:
            for name in MIX_QUERIES:
                q = self.registry[name]
                m0 = memo_entries()
                pdf, op = self._op(name, lambda q=q: q.fn(self.spark, SF_DIR).toPandas(), False)
                if pdf is None:
                    continue
                self.cold[name] = op.sec
                if memo_entries() > m0:
                    self.memo_backed.add(name)
                if q.oracle is None:
                    self._fail(name, "no oracle to check against")
                    continue
                want = con.sql(q.oracle).df()
                if sorted(pdf.columns) != sorted(want.columns):
                    self._fail(name, f"columns {sorted(pdf.columns)} != {sorted(want.columns)}")
                elif len(pdf) != len(want):
                    self._fail(name, f"{len(pdf)} rows, oracle has {len(want)}")
                elif frame_canon(pdf)[0] != frame_canon(want)[0]:
                    self._fail(name, "values differ from the oracle")
        finally:
            con.close()

    def _query(self, fn, traced: bool) -> None:
        if not traced:
            fn(self.spark, SF_DIR).write.format("noop").mode("overwrite").save()
            return
        with self.tracer.span("operators.build"):
            df = fn(self.spark, SF_DIR)
        with self.tracer.span("operators.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span("operators.exec"):
            df.write.format("noop").mode("overwrite").save()

    def _mix_pass(self, traced: bool) -> Pass:
        ops: list[Op] = []
        p0 = time.perf_counter()
        for name in self.order.next_pass(MIX_QUERIES):
            fn = self.registry[name].fn
            if traced:
                m0, seen = memo_entries(), len(self.listener.progress)
            _, op = self._op(name, lambda fn=fn: self._query(fn, traced), traced)
            if op is None:
                continue
            if traced:
                op.memo_growth = memo_entries() - m0
                with self.listener.lock:
                    op.stream = self.listener.progress[seen:]
            ops.append(op)
        return Pass(ops, time.perf_counter() - p0)

    # -- the run -----------------------------------------------------------

    def _pass(self, traced: bool) -> Pass:
        if not traced:
            return self.do_pass(False)
        # the untraced pass before this one ran jobs of its own
        self._drain_listener_bus()
        self.rest.skip()
        self.tracer.install()
        self.spark.streams.addListener(self.listener)
        try:
            with self.tracer.span("pass"):
                return self.do_pass(True)
        finally:
            self.spark.streams.removeListener(self.listener)
            self.tracer.uninstall()

    def execute(self) -> None:
        from bqfetch_spark.catalog import load_catalog
        from bqfetch_spark.session import get_session

        self.info["canary_start_s"] = canary()
        self.info["load1"] = os.getloadavg()[0]
        t0 = time.perf_counter()
        self.spark = get_session("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.info["session_start_s"] = time.perf_counter() - t0
        self.info["master"] = self.spark.sparkContext.master
        self.info["shuffle_partitions"] = self.spark.conf.get("spark.sql.shuffle.partitions")
        t0 = time.perf_counter()
        load_catalog(self.spark, SF_DIR)
        self.info["catalog_load_s"] = time.perf_counter() - t0
        if self.traced:
            self.rest = SparkRest(self.spark.sparkContext)
            self.listener = streaming_listener()

        t0 = time.perf_counter()
        if self.workload == "fetch_bulk":
            self._prepare_fetch()
            self.do_pass = self._fetch_pass
        else:
            self._prepare_mix()
            self.do_pass = self._mix_pass
        self.info["prepare_s"] = time.perf_counter() - t0

        warm: list[float] = []
        while len(warm) < WARMUP_PASSES[self.workload]:
            if time.time() - self.process_start > WARMUP_DEADLINE_S:
                break
            warm.append(self._pass(False).wall)
        self.info["warmup_pass_s"] = warm

        self.first_timed = time.time()
        self.window: list[Pass] = []
        self.window_traced: list[Pass] = []
        elapsed = 0.0
        while elapsed < self.seconds or len(self.window) < MIN_WINDOW_PASSES:
            # pairs alternate which side runs first, so that the warm-up
            # trend left in the window favours neither side
            traced_first = self.traced and len(self.window) % 2 == 1
            if traced_first:
                self.window_traced.append(self._pass(True))
            p = self._pass(False)
            self.window.append(p)
            elapsed += p.wall
            if self.traced and not traced_first:
                self.window_traced.append(self._pass(True))
        self.info["canary_end_s"] = canary()
        self.info["peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        self.info["jvm_peak_rss_mb"] = _jvm_peak_rss_mb()

    # -- metrics -----------------------------------------------------------

    @staticmethod
    def _samples(passes: list[Pass]) -> list[tuple[str, float]]:
        return [(op.kind, op.sec) for p in passes for op in p.ops]

    def end_to_end(self) -> tuple[dict, dict]:
        """(metrics, detail) of the untraced window passes."""
        samples = self._samples(self.window)
        wall = sum(p.wall for p in self.window)
        delivered = [op for p in self.window for op in p.ops if op.kind != "plan"]
        meds = stats.kind_medians(samples)
        metrics = {
            "setup_s": self.first_timed - self.process_start,
            # a typical pass's rate: one slow pass (a box hiccup) moves
            # the median pass time less than the window total
            "ops_per_s": len(delivered) / len(self.window) / stats.median(
                [p.wall for p in self.window]
            ),
            "op_geomean_s": stats.geomean(meds.values()),
            "peak_rss_mb": self.info["peak_rss_mb"],
        }
        detail = {
            "window_s": wall,
            "passes": len(self.window),
            "pass_s": [p.wall for p in self.window],
            "ops": len(delivered),
            "kind_p50_s": meds,
            "drift_first_over_second_half": stats.drift_ratio(samples),
        }
        if self.workload == "fetch_bulk":
            chunks = [op.sec for p in self.window for op in p.ops if op.kind == "chunk"]
            detail.update({
                "rows_per_s": sum(op.rows for op in delivered) / wall,
                "first_result_s": stats.median(
                    [p.first_result for p in self.window if p.first_result is not None]
                ),
                "chunk_p50_s": stats.median(chunks),
                "chunk_tail": stats.tail(chunks),
            })
        else:
            detail["cold_s"] = self.cold
            detail["memo_backed"] = sorted(self.memo_backed)
        return metrics, detail

    def _cold_extra_s(self) -> float:
        """What the memo-backed queries' cold runs cost beyond their
        warm medians in the timed window."""
        meds = stats.kind_medians(self._samples(self.window))
        return sum(self.cold[n] - meds[n] for n in self.memo_backed if n in meds)

    def per_layer(self) -> dict:
        """Per-layer metrics of the traced window passes."""
        tr = self.tracer
        passes = self.window_traced
        ops = [op for p in passes for op in p.ops]
        n_ops = len(ops)
        rest = {k: sum(op.rest[k] for op in ops) for k in ops[0].rest}
        m: dict[str, float] = {
            "session.start_s": self.info["session_start_s"],
            "catalog.load_s": self.info["catalog_load_s"],
            "spark.jobs_per_op": rest["jobs"] / n_ops,
            "spark.tasks_per_op": rest["tasks"] / n_ops,
            "spark.failed_tasks": rest["failed_tasks"],
            "spark.executor_run_s": rest["run_s"] / n_ops,
            "spark.executor_cpu_s": rest["cpu_s"] / n_ops,
            "spark.noncpu_run_s": (rest["run_s"] - rest["cpu_s"]) / n_ops,
            "spark.shuffle_write_mb": rest["shuffle_write_mb"] / n_ops,
            "spark.spill_mb": rest["spill_mb"] / n_ops,
            "spark.driver_self_s": rest["driver_self_s"] / n_ops,
            "jvm.peak_rss_mb": self.info["jvm_peak_rss_mb"],
            "box.canary_s": stats.median(
                [self.info["canary_start_s"], self.info["canary_end_s"]]
            ),
            "box.load1": self.info["load1"],
        }
        untraced = stats.geomean(stats.kind_medians(self._samples(self.window)).values())
        traced = stats.geomean(stats.kind_medians(self._samples(passes)).values())
        m["trace.overhead_frac"] = traced / untraced - 1.0

        def p50(name: str, self_time: bool = False) -> float:
            if self_time:
                vals = [sec for _n, sec in tr.self_durations(name)]
            else:
                vals = tr.durations(name)
            return stats.median(vals) if vals else 0.0

        plans = [op for op in ops if op.kind == "plan"]
        chunks = [op for op in ops if op.kind == "chunk"]
        rows = sum(op.rows for op in chunks)
        m.update({
            "fetcher.plan_s": p50("fetcher.chunks"),
            "plans.estimate_bytes_s": p50("plans.estimate_bytes"),
            "plans.ntile_build_s": p50("plans.ntile_build"),
            "plans.jobs_per_plan": (
                sum(op.rest["jobs"] for op in plans) / len(plans) if plans else 0.0
            ),
            "fetcher.chunks_per_pass": len(chunks) / len(passes),
            "fetcher.collect_arrow_s": p50("spark.toArrow"),
            "fetcher.to_pandas_s": p50("fetcher.fetch_to_pandas", self_time=True),
            "fetcher.scan_amplification": (
                sum(op.rest["input_records"] for op in chunks) / rows if rows else 0.0
            ),
            "operators.build_s": p50("operators.build"),
            "operators.plan_s": p50("operators.plan"),
            "operators.exec_s": p50("operators.exec"),
        })
        if self.workload == "query_mix":
            for kind, sec in stats.kind_medians(self._samples(passes)).items():
                m[f"operators.{kind}.p50_s"] = sec

        memo_ops = [op for op in ops if op.kind in self.memo_backed]
        builds = tr.counts["workcache.builds"] + sum(max(op.memo_growth, 0) for op in ops)
        hits = tr.counts["workcache.hits"] + sum(1 for op in memo_ops if op.memo_growth == 0)
        m["workcache.builds"] = builds / len(passes)
        m["workcache.hits"] = hits / len(passes)
        m["workcache.cold_extra_s"] = self._cold_extra_s()

        streams = [op for op in ops if op.stream]
        events = [e for op in streams for e in op.stream]

        def dur(e, *keys):
            return sum(e["duration_ms"].get(k, 0) for k in keys)

        m.update({
            "streaming.batches_per_op": (
                len(events) / len(streams) if streams else 0.0
            ),
            "streaming.input_rows_per_op": (
                sum(e["rows"] for e in events) / len(streams) if streams else 0.0
            ),
            "streaming.trigger_ms_p50": (
                stats.median([dur(e, "triggerExecution") for e in events]) if events else 0.0
            ),
            "streaming.add_batch_ms_p50": (
                stats.median([dur(e, "addBatch") for e in events]) if events else 0.0
            ),
            "streaming.commit_ms_p50": (
                stats.median([dur(e, "walCommit", "commitOffsets") for e in events])
                if events else 0.0
            ),
            "streaming.fixed_fee_s": (
                stats.median([
                    op.sec - sum(dur(e, "triggerExecution") for e in op.stream) / 1e3
                    for op in streams
                ]) if streams else 0.0
            ),
        })
        # counts that should repeat exactly from pass to pass
        per_pass = [
            (
                len(p.ops),
                sum(op.rest["jobs"] for op in p.ops),
                sum(op.rest["tasks"] for op in p.ops),
                sum(len(op.stream) for op in p.ops),
                sum(op.rest["input_records"] for op in p.ops),
            )
            for p in passes
        ]
        self.info["counts_per_traced_pass"] = per_pass
        self.info["counts_repeat"] = len(set(per_pass)) == 1
        return m

    def write_spans(self) -> str:
        path = os.path.join(self.work_dir, f"spans-{self.workload}.json")
        self.tracer.write(path)
        return path


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _jvm_peak_rss_mb() -> float:
    pid = _jvm_pid()
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for child in children.get(pid, []):
            out.append(child)
            todo.append(child)
    return out


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM and every process it started
    (Python workers) has ended; kill what is left after a grace period."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = _descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in pids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False
