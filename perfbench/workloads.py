"""The benchmark's workloads.

Each workload gets a booted `Run` (session, registry, tracer, work
directory), warms up on its own copy of the data, measures for the run's
time budget, checks the outputs outside the timed region and returns an
`Outcome`. See README.md for why each workload exists.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import sqlgen
from probes import JobCounter, dir_usage, tree_usage
from tracing import Tracer

# ---------------------------------------------------------------- shared

# A run must end within 180 s. On a VM that loses much of its CPU to its
# neighbours a batch pass can take 30 s instead of 12 s, so no pass starts
# that would end after this many seconds from the start of the process;
# stopping Spark and checking the outputs take the rest.
RUN_DEADLINE_S = 150.0


@dataclass
class Run:
    seed: int
    seconds: float
    work: str
    tmp: str
    spark: object
    queries: dict
    tracer: Tracer
    started: float  # perf_counter() when the process began

    def time_left(self) -> float:
        """Seconds until RUN_DEADLINE_S after the process began."""
        return RUN_DEADLINE_S - (time.perf_counter() - self.started)


@dataclass
class Outcome:
    attempted: int
    failed: int
    warmup_s: float
    e2e: dict[str, float]
    layers: dict[str, float]
    context: dict = field(default_factory=dict)


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


class OpProbe:
    """Per-op readings in traced runs: scheduler counts and tree memory.
    They are taken around every op of a traced run, spans or not, outside
    the op's timing, so their pauses fall alike on the traced and the
    untraced ops that the tracing overhead compares."""

    def __init__(self, run: Run):
        self.jobs = JobCounter(run.spark) if run.tracer.enabled else None
        self.counts: list[tuple[int, int, int]] = []
        self.rss_peak = 0.0

    def start(self, op: str) -> None:
        if self.jobs:
            self.jobs.start(op)

    def finish(self, op: str) -> None:
        if self.jobs:
            self.counts.append(self.jobs.finish(op))
            self.rss_peak = max(self.rss_peak, tree_usage()[1])

    def layer_metrics(self) -> dict[str, float]:
        n = len(self.counts) or 1
        jobs, stages, tasks = (sum(c[i] for c in self.counts) for i in range(3))
        return {
            "spark.jobs": jobs / n,
            "spark.stages": stages / n,
            "spark.tasks": tasks / n,
            "proc.rss_peak_mb": self.rss_peak,
        }


def _overhead_pct(traced: list[float], untraced: list[float]) -> float:
    if not traced or not untraced:
        return 0.0
    return (p50(traced) / p50(untraced) - 1.0) * 100.0


# ---------------------------------------------------------------- adhoc_sql

ADHOC_SF = 0.01
ADHOC_BLOCK = sqlgen.BLOCK  # statements per "pass": one block of the fixed mix
# From a cold JVM, blocks of 20 statements took 9.8, 3.5, 3.5, 2.7 and then
# 2.0-2.4 s each on a 4-vCPU VM: the JIT is steady after about 80
# statements, so the warm-up runs five blocks.
ADHOC_WARMUP_STATEMENTS = 5 * ADHOC_BLOCK
ADHOC_TABLES = list(sqlgen.COLUMNS)


def _execute(engine, st: sqlgen.Statement):
    """Run one statement; return (Result | None, error label | None)."""
    from sql_engine_spark.errors import EngineError

    try:
        return engine.execute(st.sql), None
    except EngineError as exc:
        return None, type(exc).__name__
    except Exception as exc:  # noqa: BLE001 - counted as an untyped failure
        return None, "untyped:" + type(exc).__name__


def _check_statement(con, st: sqlgen.Statement, result, error: str | None) -> bool:
    """Exact, order-insensitive comparison against DuckDB on the same files."""
    from sql_engine_spark.oracle import _key, _norm

    if st.expect is not None or error is not None:
        return error == st.expect
    if result.truncated:
        return False
    rel = con.sql(st.unlimited)
    if sorted(result.columns) != sorted(rel.columns):
        return False
    s_idx = [result.columns.index(c) for c in sorted(result.columns)]
    o_idx = [rel.columns.index(c) for c in sorted(rel.columns)]
    mine = Counter(_key(tuple(_norm(r[i]) for i in s_idx)) for r in result.rows)
    want = Counter(_key(tuple(_norm(r[i]) for i in o_idx)) for r in rel.fetchall())
    if st.limit is None:
        return mine == want
    return sum(mine.values()) == min(st.limit, sum(want.values())) and not mine - want


def _block_walls(lat_ms: list[float]) -> list[float]:
    """Seconds per whole block of ADHOC_BLOCK statements, in run order."""
    return [
        sum(lat_ms[i : i + ADHOC_BLOCK]) / 1000.0
        for i in range(0, len(lat_ms) - ADHOC_BLOCK + 1, ADHOC_BLOCK)
    ]


def adhoc_sql(run: Run) -> Outcome:
    import duckdb
    import pyarrow.parquet as pq

    from sql_engine_spark import engine as engine_mod
    from sql_engine_spark import tables as tables_mod
    from sql_engine_spark.engine import Engine
    from sql_engine_spark.result import Result

    base = os.path.join(run.work, "data")
    warm = os.path.join(run.work, "warm")
    shutil.copytree(sqlgen.DATA_DIR, base)
    shutil.copytree(sqlgen.DATA_DIR, warm)
    rows = {t: pq.read_metadata(os.path.join(base, f"{t}.parquet")).num_rows for t in ADHOC_TABLES}
    engine = Engine(run.spark)
    tracer = run.tracer
    if tracer.enabled:
        tracer.wrap(Engine, "sql", "engine.sql")
        tracer.wrap(engine_mod, "rewrite_path_tables", "tables.rewrite")
        tracer.wrap(tables_mod, "read_path", "tables.read_path")
        tracer.wrap(Result, "from_df", "result.fetch", static=True)

    tracer.active = False
    t0 = time.perf_counter()
    for st in sqlgen.generate(run.seed + 7919, warm, rows, ADHOC_WARMUP_STATEMENTS):
        _execute(engine, st)
    warmup_s = time.perf_counter() - t0

    statements = sqlgen.generate(run.seed, base, rows, 20_000)
    probe = OpProbe(run)
    done: list[tuple[sqlgen.Statement, object, str | None]] = []
    lat_ms: list[float] = []
    traced_ms: list[float] = []
    typed = untyped = 0
    cpu0 = tree_usage()[0]
    # Traced runs time at least seven blocks, so that three traced blocks
    # face three untraced ones after the first.
    min_ops = 7 * ADHOC_BLOCK if tracer.enabled else 0
    start = time.perf_counter()
    for i, st in enumerate(statements):
        op = f"op{i}"
        tracer.op = op
        # Traced runs trace every second block: each block holds the same
        # mix of templates, so traced and untraced blocks compare like for like.
        tracer.active = tracer.enabled and (i // ADHOC_BLOCK) % 2 == 1
        probe.start(op)
        t = time.perf_counter()
        with tracer.span("op"):
            result, error = _execute(engine, st)
        ms = (time.perf_counter() - t) * 1000.0
        probe.finish(op)
        if tracer.active:
            traced_ms.append(ms)
        else:
            lat_ms.append(ms)
        if error is not None:
            typed += not error.startswith("untyped:")
            untyped += error.startswith("untyped:")
        done.append((st, result, error))
        if time.perf_counter() - start >= run.seconds and len(done) >= min_ops:
            break
    elapsed = time.perf_counter() - start
    cpu_s = tree_usage()[0] - cpu0
    tracer.active = False
    tracer.unwrap_all()

    con = duckdb.connect()
    verdicts: dict[str, bool] = {}
    failures: list[str] = []
    for st, result, error in done:
        key = f"{st.sql}\x00{error}\x00{result.rows if result else None}"
        if key not in verdicts:
            verdicts[key] = _check_statement(con, st, result, error)
        if not verdicts[key]:
            failures.append(f"{st.sql} -> {error or 'rows differ'} (expected {st.expect or 'rows'})")
    con.close()

    # A "pass" is a block of ADHOC_BLOCK untraced statements, in run order.
    blocks = _block_walls(lat_ms) or [sum(lat_ms) / 1000.0 * ADHOC_BLOCK / max(1, len(lat_ms))]
    fetched = [len(r.rows) for _s, r, _e in done if r is not None]
    ms = lambda name: p50(tracer.durations(name)) * 1000.0  # noqa: E731
    layers = {
        "tables.rewrite_ms": ms("tables.rewrite"),
        "tables.views_created": float(len(tracer.durations("tables.read_path"))),
        "engine.sql_ms": ms("engine.sql"),
        "result.fetch_ms": ms("result.fetch"),
        "result.rows": p50(fetched),
        "errors.typed": float(typed),
        "errors.untyped": float(untyped),
        "proc.cpu_s": cpu_s * ADHOC_BLOCK / len(done),
        # The first block opens every table's view, so it is left out.
        "trace.overhead_pct": _overhead_pct(_block_walls(traced_ms), blocks[1:]),
        **probe.layer_metrics(),
    }
    return Outcome(
        attempted=len(done),
        failed=len(failures),
        warmup_s=warmup_s,
        e2e={
            "op_p50_ms": p50(lat_ms),
            "op_p90_ms": p90(lat_ms),
            "ops_per_s": len(done) / elapsed,
            "pass_s": p50(blocks),
        },
        layers=layers,
        context={
            "sf": ADHOC_SF,
            "latency_samples": len(lat_ms),
            "block_statements": ADHOC_BLOCK,
            "failures": failures[:5],
        },
    )


# ---------------------------------------------------------------- batch_suite

BATCH_SF = 0.01
# Headline queries of the repository's bench.py, fixed here so the
# benchmark's work does not change when that list does. Seven of its 22
# (TPC-H scans, joins and aggregates, sessionize, tokenize, curation) keep
# two passes within the run's time budget.
HEADLINE = [
    "tpch_q1", "tpch_q3_like", "tpch_q5_like", "tpch_q18_like",
    "events_sessionize", "text_token_stats", "pipeline_curate",
]
# A consumer of a shared build (sharedcost ledger name in the comment);
# most of its time is the build itself. A second consumer
# (dedup_minhash_estimate_error) cost 1.4 s a pass, which the run budget
# does not leave room for.
CONSUMERS = [
    "dedup_prefix_filter",  # prefix_pairs
]
# Streaming twins: a fleet drain (orders) and a solo availableNow stream.
STREAM_TWINS = ["streaming_cdc_apply", "streaming_drop_duplicates"]
SUITE = HEADLINE + CONSUMERS + STREAM_TWINS
LEDGER = ["prefix_pairs"]
_DRAIN_PREFIXES = ("fleet_", "bstate_fleet_", "replay_")


def _collect_garbage(spark) -> None:
    """Start each pass with collected Python and JVM heaps, so a pause left
    over from the previous pass does not land in this one."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _check_suite(run: Run, sf_dir: str) -> tuple[set[str], float]:
    """Run every suite query once with collect and compare it with its
    DuckDB oracle. Returns (names that failed, program seconds)."""
    from sql_engine_spark.oracle import compare_query, duckdb_connection

    con = duckdb_connection(sf_dir)
    bad: set[str] = set()
    program_s = 0.0
    try:
        for name in SUITE:
            run.spark.catalog.clearCache()
            t = time.perf_counter()
            try:
                res = compare_query(run.spark, con, run.queries[name], sf_dir)
                ok = res.ok
                program_s += time.perf_counter() - t - res.oracle_sec
            except Exception:  # noqa: BLE001 - a raising query fails its check
                ok = False
                program_s += time.perf_counter() - t
            if not ok:
                bad.add(name)
    finally:
        con.close()
    return bad, program_s


def batch_suite(run: Run) -> Outcome:
    from sql_engine_spark import sharedcost

    base = sqlgen.DATA_DIR
    warm = os.path.join(run.work, "warm")
    shutil.copytree(base, warm)
    tracer = run.tracer
    if tracer.enabled:
        record = sharedcost.record

        def traced_record(name: str, seconds: float) -> None:
            now = time.perf_counter()
            tracer.add_span(f"sharedcost.{name}", now - seconds, now)
            record(name, seconds)

        sharedcost.record = traced_record

    tracer.active = False
    bad, warmup_s = _check_suite(run, warm)
    # The checked pass is cold (about twice a warm pass). One more untimed
    # pass takes the JIT past the steepest part of its curve.
    warm2 = os.path.join(run.work, "warm2")
    shutil.copytree(base, warm2)
    t0 = time.perf_counter()
    for name in SUITE:
        run.spark.catalog.clearCache()
        try:
            run.queries[name].build(run.spark, warm2).write.mode("overwrite").format("noop").save()
        except Exception:  # noqa: BLE001 - the checked pass already counts it
            pass
    warmup_s += time.perf_counter() - t0

    probe = OpProbe(run)
    passes: list[dict] = []
    raised: set[str] = set()
    start = time.perf_counter()
    # Every run times at least two passes, so a pass slowed by the host
    # does not alone set pass_s. Traced runs trace every second pass;
    # three passes put an untraced pass on either side of the traced one,
    # so the JIT's pass-over-pass speed-up does not read as tracing overhead.
    min_passes = 3 if tracer.enabled else 2
    while len(passes) < min_passes or time.perf_counter() - start < run.seconds:
        if passes and passes[-1]["wall"] > run.time_left():
            break
        i = len(passes)
        sf_dir = os.path.join(run.work, f"pass{i}")
        shutil.copytree(base, sf_dir)
        tracer.active = tracer.enabled and i % 2 == 1
        p = {"traced": tracer.active, "ops": {}, "ledger": Counter(), "files": 0, "bytes": 0, "solo": 0.0}
        _collect_garbage(run.spark)
        cpu0 = tree_usage()[0]
        t_pass = time.perf_counter()
        for name in SUITE:
            run.spark.catalog.clearCache()
            op = f"p{i}:{name}"
            tracer.op = op
            before = sharedcost.snapshot()
            disk0 = dir_usage(run.tmp) if name in STREAM_TWINS else (0, 0)
            probe.start(op)
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    with tracer.span("queries.build"):
                        df = run.queries[name].build(run.spark, sf_dir)
                    with tracer.span("queries.exec"):
                        df.write.mode("overwrite").format("noop").save()
            except Exception:  # noqa: BLE001 - counted as a failed op
                raised.add(name)
            p["ops"][name] = time.perf_counter() - t
            probe.finish(op)
            delta = {k: v - before.get(k, 0.0) for k, v in sharedcost.snapshot().items()}
            delta = {k: v for k, v in delta.items() if v > 0}
            p["ledger"].update(delta)
            if name in STREAM_TWINS:
                disk1 = dir_usage(run.tmp)
                p["files"] += max(0, disk1[0] - disk0[0])
                p["bytes"] += max(0, disk1[1] - disk0[1])
                drained = sum(v for k, v in delta.items() if k.startswith(_DRAIN_PREFIXES))
                if not any(k.startswith("fleet_") for k in delta):
                    p["solo"] += p["ops"][name] - drained
        p["wall"] = time.perf_counter() - t_pass
        p["cpu"] = tree_usage()[0] - cpu0
        passes.append(p)
    tracer.active = False
    if tracer.enabled:
        sharedcost.record = record

    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]] or plain
    ops_ms = [v * 1000.0 for p in plain for v in p["ops"].values()]
    n_ops = sum(len(p["ops"]) for p in passes)
    failed_names = bad | raised
    failed = sum(1 for p in passes for n in p["ops"] if n in failed_names)

    def med(f) -> float:
        return p50([f(p) for p in traced])

    def ledger(p, pred) -> float:
        return sum(v for k, v in p["ledger"].items() if pred(k))

    layers = {
        "queries.build_s": p50([v for v in _span_sums(tracer, "queries.build").values()]),
        "queries.exec_s": p50([v for v in _span_sums(tracer, "queries.exec").values()]),
        "queries.headline_s": med(lambda p: sum(p["ops"][n] for n in HEADLINE)),
        **{f"sharedcost.{k}_s": med(lambda p, k=k: p["ledger"].get(k, 0.0)) for k in LEDGER},
        "sharedcost.total_s": med(lambda p: ledger(p, lambda k: not k.startswith(_DRAIN_PREFIXES))),
        "streaming.drain_s": med(lambda p: ledger(p, lambda k: k.startswith(_DRAIN_PREFIXES))),
        "streaming.solo_s": med(lambda p: p["solo"]),
        "streaming.files_written": med(lambda p: float(p["files"])),
        "streaming.bytes_written": med(lambda p: float(p["bytes"])),
        "streaming.view_p50_ms": p50([p["ops"][n] * 1000.0 for p in traced for n in STREAM_TWINS]),
        "proc.cpu_s": med(lambda p: p["cpu"]),
        "trace.overhead_pct": _query_overhead_pct(traced, plain) if tracer.enabled else 0.0,
        **probe.layer_metrics(),
    }
    return Outcome(
        attempted=n_ops,
        failed=failed,
        warmup_s=warmup_s,
        e2e={
            "op_p50_ms": p50(ops_ms),
            "op_p90_ms": p90(ops_ms),
            "ops_per_s": sum(len(p["ops"]) for p in plain) / sum(p["wall"] for p in plain),
            "pass_s": p50([p["wall"] for p in plain]),
        },
        layers=layers,
        context={
            "sf": BATCH_SF,
            "passes": len(passes),
            "ops_per_pass": len(SUITE),
            "failed_queries": sorted(failed_names),
            "headline_s": p50([sum(p["ops"][n] for n in HEADLINE) for p in plain]),
            "pass_walls_s": [p["wall"] for p in passes],
            "query_s": {n: p50([p["ops"][n] for p in plain]) for n in SUITE},
            "ledger_per_pass": [dict(p["ledger"]) for p in passes],
        },
    )


def _query_overhead_pct(traced: list[dict], plain: list[dict]) -> float:
    """Median over queries of (traced time / untraced time - 1), in %:
    pairing each query with itself keeps the query mix out of the ratio."""
    ratios = [
        p50([t["ops"][n] for t in traced]) / p50([u["ops"][n] for u in plain])
        for n in SUITE
    ]
    return (p50(ratios) - 1.0) * 100.0


def _span_sums(tracer: Tracer, name: str) -> dict[str, float]:
    """Total duration of `name` spans per pass (ops are named p<i>:<query>)."""
    out: dict[str, float] = {}
    for s in tracer.spans:
        if s[0] == name and s[2] is not None:
            key = s[4].split(":", 1)[0]
            out[key] = out.get(key, 0.0) + s[2] - s[1]
    return out


WORKLOADS = {"adhoc_sql": adhoc_sql, "batch_suite": batch_suite}
