"""Per-layer spans and counts, recorded from outside the program.

A traced run wraps the public functions of each layer module (and each
``Task.fn`` of a pipeline) in a span. Each span records name, layer,
start, end, parent span and the trace id shared by every span of one
batch or query. Around each layer call the tracer also

- sets a Spark job group and, when the call returns, reads the jobs,
  stages and tasks of that group from ``statusTracker()`` — so every
  Spark job is attributed to the innermost layer that launched it;
- for warehouse writes, diffs the warehouse directory before and after
  the outermost write call: files that appear (new inode) are bytes and
  files written, charged to the warehouse and to the enclosing layer.

Spans stay in memory and are written as JSON when the run ends. Nothing
here changes the program's files; untraced runs install no wrappers.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    trace_id: str
    phase: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    bytes_written: int = 0
    files_written: int = 0
    children_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return max(0.0, self.dur - self.children_s)


def snapshot(root: str) -> dict[tuple[str, int], int]:
    """{(path, inode): size} of every regular file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[(p, st.st_ino)] = st.st_size
    return out


class Tracer:
    """Collects spans; ``wrap`` turns a function into a traced one."""

    def __init__(self, spark, warehouse_root: str):
        self.sc = spark.sparkContext
        self.wh_root = warehouse_root
        self.spans: list[Span] = []
        self.phase = "setup"
        self.trace_id = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- span context ------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, layer: str, fn, *args, disk: bool = False,
             on_result=None, **kw):
        stack = self._stack()
        parent = stack[-1] if stack else None
        # only the OUTERMOST warehouse write diffs the directory: merge
        # calls overwrite, which must not count the same files twice
        diff = disk and not any(s.layer == "warehouse" for s in stack)
        before = snapshot(self.wh_root) if diff else None
        sp = Span(next(self._ids), name, layer,
                  getattr(self._local, "trace_id", None) or self.trace_id,
                  self.phase, parent.id if parent else None, time.perf_counter())
        group = f"perfbench-{sp.id}"
        if disk:
            sp.attrs["table"] = kw.get("name", args[2] if len(args) > 2 else None)
        stack.append(sp)
        self.sc.setJobGroup(group, name)
        try:
            result = fn(*args, **kw)
            if on_result is not None:
                sp.attrs.update(on_result(result))
            return result
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
                parent.children_s += sp.dur
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(sp, group)
            if diff:
                after = snapshot(self.wh_root)
                new = [k for k in after if k not in before]
                sp.bytes_written = sum(after[k] for k in new)
                sp.files_written = len(new)
                # charge the enclosing layer span too
                for s in reversed(stack):
                    if s.layer != "warehouse":
                        s.attrs["bytes_written"] = s.attrs.get("bytes_written", 0) + sp.bytes_written
                        s.attrs["files_written"] = s.attrs.get("files_written", 0) + sp.files_written
                        break
            with self._lock:
                self.spans.append(sp)

    def _count_jobs(self, sp: Span, group: str) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            sp.jobs += 1
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is None:
                    continue
                sp.stages += 1
                sp.tasks += sinfo.numTasks

    def set_trace_id(self, trace_id: str | None) -> None:
        """Trace id for spans started by the calling thread."""
        self._local.trace_id = trace_id

    def wrap(self, name: str, layer: str, fn, *, disk: bool = False, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kw):
            return self.call(name, layer, fn, *args, disk=disk,
                             on_result=on_result, **kw)

        return traced

    def patch(self, owner, attr: str, name: str, layer: str, *,
              disk: bool = False, on_result=None):
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, layer, orig, disk=disk, on_result=on_result))

    def install(self) -> None:
        """Wrap the public entry points of every pipeline layer."""
        from global_seismic_data_pipeline_spark import state
        from global_seismic_data_pipeline_spark.pipeline import (
            bronze, gold, maintenance, reports, runner, silver,
        )
        from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse

        # runner imports read_geojson by name: patch the name it calls
        self.patch(runner, "read_geojson", "geojson.read_geojson", "geojson")
        self.patch(bronze, "ingest_batch", "bronze.ingest_batch", "bronze",
                   on_result=lambda n: {"rows": n})
        self.patch(bronze, "quality_report", "bronze.quality_report", "bronze")
        self.patch(bronze, "dedup_rewrite", "bronze.dedup_rewrite", "bronze",
                   on_result=lambda n: {"rows": n})
        self.patch(silver, "run_silver", "silver.run_silver", "silver",
                   on_result=lambda n: {"rows": n})
        for f in ("get", "init", "advance"):
            self.patch(state.WatermarkStore, f, f"state.{f}", "state")
        for f in ("append", "overwrite", "merge", "overwrite_dynamic"):
            self.patch(Warehouse, f, f"warehouse.{f}", "warehouse", disk=True)
        self.patch(gold, "run_gold", "gold.run_gold", "gold",
                   on_result=lambda c: {"tables": len(c), "rows": sum(c.values())})
        self.patch(maintenance, "optimize_all", "maintenance.optimize_all", "maintenance",
                   on_result=lambda r: {"files_after": sum(v["files_after"] for v in r.values())})
        self.patch(reports, "run_all", "reports.run_all", "reports")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def wrap_tasks(self, pipeline) -> None:
        """Span each DAG task (the runner layer)."""
        for t in pipeline.tasks:
            t.fn = self.wrap(f"runner.{t.name}", "runner", t.fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{**asdict(s), "self_s": s.self_s} for s in self.spans], fh)


LAYERS = ("geojson", "bronze", "silver", "state", "warehouse", "gold",
          "maintenance", "runner")
# layers that launch Spark jobs themselves (geojson only builds the lazy
# scan, which runs inside bronze's append)
SPARK_LAYERS = ("bronze", "silver", "state", "warehouse", "gold", "maintenance", "runner")


def layer_metrics(spans: list[Span], trace_id: str) -> dict[str, float]:
    """The pipeline layer metrics of one DAG run: the spans of
    ``trace_id``."""
    sel = [s for s in spans if s.trace_id == trace_id]
    by_name: dict[str, list[Span]] = defaultdict(list)
    for s in sel:
        by_name[s.name].append(s)

    def dur(*names: str) -> float:
        return sum(s.dur for nm in names for s in by_name.get(nm, []))

    def attr(name: str, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in by_name.get(name, []))

    out = {
        "geojson.read_s": dur("geojson.read_geojson"),
        "bronze.ingest_s": dur("bronze.ingest_batch"),
        "bronze.quality_s": dur("bronze.quality_report"),
        "bronze.dedup_s": dur("bronze.dedup_rewrite"),
        "silver.run_s": dur("silver.run_silver"),
        "state.watermark_s": dur("state.get", "state.init", "state.advance"),
        "gold.run_s": dur("gold.run_gold"),
        "maintenance.optimize_s": dur("maintenance.optimize_all"),
        "runner.dag_s": sum(s.dur for s in sel if s.layer == "runner"),
        "gold.bytes_written": attr("gold.run_gold", "bytes_written"),
        "silver.bytes_written": attr("silver.run_silver", "bytes_written"),
        "bronze.bytes_written": attr("bronze.dedup_rewrite", "bytes_written")
        + attr("bronze.ingest_batch", "bytes_written"),
        "maintenance.bytes_rewritten": attr("maintenance.optimize_all", "bytes_written"),
        "maintenance.files_after": attr("maintenance.optimize_all", "files_after"),
        "geojson.rows": attr("bronze.ingest_batch", "rows"),
        "bronze.rows_rewritten": attr("bronze.dedup_rewrite", "rows"),
        "silver.rows_merged": attr("silver.run_silver", "rows"),
        "gold.tables_rewritten": attr("gold.run_gold", "tables"),
        "gold.rows_written": attr("gold.run_gold", "rows"),
        "warehouse.bytes_written": sum(s.bytes_written for s in sel),
        "warehouse.files_written": sum(s.files_written for s in sel),
        "state.control_writes": sum(
            1 for s in sel if s.name == "warehouse.overwrite" and s.attrs.get("table") == "control_watermark"
        ),
    }
    for layer in LAYERS:
        ls = [s for s in sel if s.layer == layer]
        out[f"{layer}.self_s"] = sum(s.self_s for s in ls)
        if layer in SPARK_LAYERS:
            out[f"{layer}.spark_jobs"] = sum(s.jobs for s in ls)
            out[f"{layer}.spark_stages"] = sum(s.stages for s in ls)
            out[f"{layer}.spark_tasks"] = sum(s.tasks for s in ls)
    return out
