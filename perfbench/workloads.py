"""The benchmark's workloads: closed-loop serving of the warehouse the
medallion pipeline builds.

Both workloads set up the same way: start Spark (the ``session`` layer),
generate the seeded GeoJSON shards, run one year of history through the
full DAG (``runner.build_pipeline`` with the shipped defaults: ingestion
→ bronze → silver MERGE → gold → optimize → dashboard refresh) into an
empty warehouse — the backfill. They then serve the optimized
warehouse read-only to a closed loop of client threads (``CLIENTS``),
each collecting every result. The clients first run blocks of their mix
untimed, ``WARMUP_QUERIES`` queries in all, so the timed loop measures
warm serving rather than codegen and JIT warm-up. One operation is one
block: one client's pass over its mix, query after query. The median of
a block's time is smooth where the median of single queries is not: the
nine reports and the drill-downs form clusters of latencies, and the
query median jumped between two of them from run to run.

- ``dashboard``: two clients; blocks in seeded order, each holding the
  nine ``reports.ALL_REPORTS`` queries once and ``DRILLS_PER_BLOCK``
  parameterized drill-downs over ``silver_earthquakes``;
- ``drilldown``: one client; drill-downs only, so a change to silver's
  layout or scan path shows without the gold reports beside it.

A client that reaches the deadline finishes its block first, so every
run measures the mix in its exact proportions.

After measuring, DuckDB checks the outputs (``oracle``); any mismatch
is a failed operation.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import gen
import oracle
from global_seismic_data_pipeline_spark.pipeline import reports, runner

# input sizes; "tiny" is the self-test's
SCALES = {
    "full": dict(history_events=5_000, history_shards=12),
    "tiny": dict(history_events=600, history_shards=3),
}
# closed-loop client threads per workload: the drill-downs' scans run
# several tasks each, and a second client queues them behind each other
CLIENTS = {"dashboard": 2, "drilldown": 1}
# queries run before timing: a drill-down's latency falls by about a third
# over its first hundred runs in a JVM as the JIT compiles Spark's
# planning and execution paths
WARMUP_QUERIES = 120
DRILLS_PER_BLOCK = 6  # beside the nine reports: 40% of queries are drill-downs
DRILL_FLOORS = (2.5, 3.0, 3.5, 4.0, 4.5)
REGION_CODES = [b[0] for b in gen.REGION_BOXES] + ["OTHER"]
# the reports.ALL_REPORTS queries, then the drill-down
REPORT_KINDS = (*sorted(reports.ALL_REPORTS), "drill")
# each workload's block of query kinds
MIXES = {
    "dashboard": (*REPORT_KINDS[:-1], *["drill"] * DRILLS_PER_BLOCK),
    "drilldown": ("drill",) * len(REGION_CODES),
}
DRILL_SQL = """
    SELECT event_id, event_time, magnitude, depth_km, place, risk_level
    FROM silver_earthquakes
    WHERE tectonic_region = '{region}' AND magnitude >= {floor}
      AND event_time >= TIMESTAMP '{lo}' AND event_time < TIMESTAMP '{hi}'
    ORDER BY magnitude DESC, event_id
    LIMIT 100
"""


def naive(dt: datetime) -> datetime:
    return dt.replace(tzinfo=None)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with a share q of the
    values at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(round(q * len(s), 9)) - 1)]


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root) for f in files
    )


@dataclass
class Run:
    """State and results of one benchmark run."""

    spark: object
    work: str
    seed: int
    seconds: float
    t_start: float  # process start, for setup_s
    inputs: object = None  # Future of the gen.Manifest, generated beside JVM start
    tracer: object = None  # tracing.Tracer in traced runs
    inject: str | None = None  # self-test corruption: "gold" | "dashboard"
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)  # end-to-end
    layer: dict = field(default_factory=dict)  # per-layer (traced runs)
    detail: dict = field(default_factory=dict)  # workload-specific names, sample counts

    @property
    def warehouse(self) -> str:
        return os.path.join(self.work, "warehouse")

    def fail(self, problems: list[str]) -> None:
        self.problems += problems

    def check(self, problems: list[str]) -> None:
        """One correctness check is one operation."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.fail(problems)


# -- set-up --------------------------------------------------------------------
def setup(run: Run) -> gen.Manifest:
    """Wait for the shards and build the backfill warehouse: one full DAG
    run over the history directory."""
    m = run.inputs.result()
    rows = sum(len(m.rows[s.path]) for s in m.history)
    t0 = time.perf_counter()
    p = runner.build_pipeline(run.spark, run.warehouse,
                              geojson_path=os.path.dirname(m.history[0].path),
                              clock=naive(m.history[0].batch_clock))
    if run.tracer is not None:
        run.tracer.trace_id = "backfill"
        run.tracer.wrap_tasks(p)
    bad = [f"backfill: task {r.name} {r.status} {r.detail}" for r in p.run()
           if r.status != "SUCCESS"]
    dt = time.perf_counter() - t0
    run.check(bad)
    run.detail.update(backfill_rows=rows, backfill_s=dt, backfill_rows_per_s=rows / dt)
    return m


def check_warehouse(run: Run, m: gen.Manifest) -> None:
    """Silver ids and derived columns; all gold tables recomputed."""
    if run.inject == "gold":
        corrupt_gold_row(run.warehouse)
    con = oracle.connect(run.warehouse)
    try:
        run.check(oracle.check_silver(con, gen.expected_silver(m)))
        run.check(oracle.check_gold(con, naive(m.history[0].batch_clock)))
    finally:
        con.close()


def corrupt_gold_row(warehouse: str) -> None:
    """Self-test only: add 7 to one row's total_events in gold_region_summary."""
    import duckdb

    table = os.path.join(warehouse, "gold_region_summary")
    out = os.path.join(warehouse, ".corrupt.parquet")
    duckdb.execute(
        f"COPY (SELECT * REPLACE (CASE WHEN risk_rank = 1 THEN total_events + 7 "
        f"ELSE total_events END AS total_events) "
        f"FROM read_parquet('{table}/*.parquet')) TO '{out}' (FORMAT parquet)"
    )
    for f in os.listdir(table):
        os.remove(os.path.join(table, f))
    os.rename(out, os.path.join(table, "part-00000-corrupt.parquet"))


def storage_ratio(run: Run, input_bytes: int) -> float:
    return dir_bytes(run.warehouse) / input_bytes


# -- serving --------------------------------------------------------------------
def drill_sql(region: str, floor: float, month: int) -> str:
    lo = naive(gen.START) + timedelta(days=30 * month)
    return DRILL_SQL.format(region=region, floor=floor, lo=f"{lo:%Y-%m-%d}",
                            hi=f"{lo + timedelta(days=30):%Y-%m-%d}")


def query_block(rng: random.Random, kinds: tuple[str, ...]) -> list[tuple[str, str | None]]:
    """One block of (query kind, drill SQL or None for a report): every
    kind of the mix in seeded order. A block's drill-downs take distinct
    regions and distinct months, so every block of ``drilldown`` covers
    each region and each month once. The seed changes the order and the
    drill parameters, not the mix's proportions."""
    block = list(kinds)
    rng.shuffle(block)
    drills = zip(rng.sample(REGION_CODES, len(REGION_CODES)), rng.sample(range(12), 12))
    out = []
    for name in block:
        if name == "drill":
            region, month = next(drills)
            out.append((name, drill_sql(region, rng.choice(DRILL_FLOORS), month)))
        else:
            out.append((name, None))
    return out


def run_query(spark, name: str, sql: str | None) -> list[tuple]:
    df = spark.sql(sql) if sql is not None else reports.ALL_REPORTS[name](spark)
    return [tuple(r) for r in df.collect()]


def report_sql(name: str) -> str:
    """The SQL text a report runs, captured without Spark."""
    class Capture:
        def sql(self, text):
            return text

    return reports.ALL_REPORTS[name](Capture())


def serve(run: Run, workload: str) -> None:
    """Set up, then run ``workload``'s closed loop for ``run.seconds``."""
    m = setup(run)
    kinds = MIXES[workload]
    clients = CLIENTS[workload]
    warmup_blocks = math.ceil(WARMUP_QUERIES / (len(kinds) * clients))
    lat: list[float] = []  # per query
    blocks: list[float] = []  # per block: the operation
    results: list[tuple[str, str | None, list[tuple]]] = []
    lock = threading.Lock()
    errors: list[str] = []
    deadline = [0.0]

    def start_measuring() -> None:
        run.metrics["setup_s"] = time.perf_counter() - run.t_start
        if run.tracer is not None:
            run.tracer.phase = "measure"
        deadline[0] = time.perf_counter() + run.seconds

    warm = threading.Barrier(clients, action=start_measuring)

    def client(c: int) -> None:
        rng = random.Random(run.seed * 1000 + c)
        k = 0
        for name, sql in (q for _ in range(warmup_blocks) for q in query_block(rng, kinds)):
            try:
                run_query(run.spark, name, sql)
            except Exception as exc:  # noqa: BLE001 — a failed query is a failed op
                with lock:
                    errors.append(f"{name}: {exc!r}")
        warm.wait()
        while time.perf_counter() < deadline[0]:
            t_block = time.perf_counter()
            for name, sql in query_block(rng, kinds):
                t0 = time.perf_counter()
                try:
                    if run.tracer is not None:
                        run.tracer.set_trace_id(f"q-{c}-{k}")
                        rows = traced_query(run, name, sql)
                    else:
                        rows = run_query(run.spark, name, sql)
                except Exception as exc:  # noqa: BLE001 — a failed query is a failed op
                    with lock:
                        errors.append(f"{name}: {exc!r}")
                    continue
                finally:
                    k += 1
                dt = time.perf_counter() - t0
                with lock:
                    lat.append(dt)
                    results.append((name, sql, rows))
            with lock:
                blocks.append(time.perf_counter() - t_block)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - (deadline[0] - run.seconds)
    run.attempted += len(lat) + len(errors)
    run.failed += len(errors)
    run.fail(errors[:3])
    run.metrics["op_p50_ms"] = statistics.median(blocks) * 1000
    p90 = percentile(lat, 0.90)
    in_bytes = sum(s.n_bytes for s in m.history)
    run.metrics["storage_bytes_per_input_byte"] = storage_ratio(run, in_bytes)
    run.detail.update({f"{workload}_blocks": len(blocks),
                       f"{workload}_query_p50_ms": statistics.median(lat) * 1000,
                       f"{workload}_query_p90_ms": p90 * 1000,
                       f"{workload}_query_p95_ms": percentile(lat, 0.95) * 1000,
                       f"{workload}_qps": len(lat) / wall,
                       f"{workload}_queries": len(lat),
                       f"{workload}_beyond_p90": sum(1 for x in lat if x > p90)})
    if run.inject == "dashboard":
        i = next(i for i, r in enumerate(results) if r[0] != "watermark_status" and r[2])
        name, sql, rows = results[i]
        rows[0] = (rows[0][0],) + tuple(
            v + 1 if isinstance(v, (int, float)) and not isinstance(v, bool) else v
            for v in rows[0][1:])
    if run.tracer is not None:
        trace_layers(run, "backfill", in_bytes=in_bytes)
        seen = {name for name, _sql, _rows in results}
        missing = [n for n in REPORT_KINDS if n not in seen]
        if missing:
            probe_reports(run, missing)
        report_layers(run)
    check_dashboard(run, results)
    check_warehouse(run, m)


def check_dashboard(run: Run, results) -> None:
    """Every collected result against DuckDB running the same SQL; a
    mismatch fails that query."""
    con = oracle.connect(run.warehouse)
    expected: dict[str, tuple[list[str], list[tuple]]] = {}
    try:
        for name, sql, rows in results:
            text = sql if sql is not None else report_sql(name)
            if text not in expected:
                expected[text] = oracle.run_sql(con, text)
            cols, want = expected[text]
            problems = oracle.diff_rows(rows, want, cols, name)
            if problems:
                run.failed += 1
                run.fail(problems)
    finally:
        con.close()


# -- traced-run metrics --------------------------------------------------------
def trace_layers(run: Run, trace_id: str, *, in_bytes: float) -> None:
    from tracing import layer_metrics

    lm = layer_metrics(run.tracer.spans, trace_id)
    lm["warehouse.write_amplification"] = lm["warehouse.bytes_written"] / in_bytes
    lm["trace.op_p50_ms"] = run.metrics["op_p50_ms"]
    run.layer.update(lm)


def probe_reports(run: Run, names: list[str]) -> None:
    """Traced runs only: time dashboard queries three times each on the
    current warehouse, for report kinds the measured phase did not run."""
    phase, run.tracer.phase = run.tracer.phase, "probe"
    for i in range(3):
        for name in names:
            sql = drill_sql(REGION_CODES[i], 3.0, i) if name == "drill" else None
            run.tracer.set_trace_id(f"probe-{name}-{i}")
            traced_query(run, name, sql)
    run.tracer.phase = phase


def traced_query(run: Run, name: str, sql: str | None) -> list[tuple]:
    return run.tracer.call(f"reports.{name}", "reports", run_query, run.spark, name, sql,
                           on_result=lambda rows: {"rows": len(rows)})


def report_layers(run: Run) -> None:
    """Median time per dashboard query kind, from the measured queries
    and, for kinds the measured phase did not run, the probe."""
    spans = [s for s in run.tracer.spans if s.layer == "reports"
             and s.phase in ("measure", "probe") and s.name != "reports.run_all"]
    for name in REPORT_KINDS:
        d = [s.dur for s in spans if s.name == f"reports.{name}"]
        run.layer[f"reports.{name}_ms"] = statistics.median(d) * 1000
    run.layer["reports.rows_returned"] = statistics.mean(s.attrs["rows"] for s in spans)
    for key in ("jobs", "stages", "tasks"):
        run.layer[f"reports.spark_{key}"] = statistics.mean(getattr(s, key) for s in spans)
