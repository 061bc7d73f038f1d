"""Per-layer trace of the KG pipeline, recorded from outside ``gaia_spark``.

A ``Tracer`` wraps the public functions ``plans/pipeline.py`` calls (by
patching module attributes for the duration of one traced operation)
and keeps one timeline per operation:

* entering a wrapped function opens a span and makes its layer the
  *owner*; the Spark job group is set to ``<op>|<owner>`` on every owner
  change, so each Spark job is charged to exactly one layer;
* a lazy layer returns an unexecuted DataFrame, so when a span returns
  to top level its layer stays owner until the next layer is entered:
  the action that follows (a checkpoint, a catalog write, the caller's
  collect) is that layer's materialization;
* ``Catalog.write`` is a ``catalog`` span, but the parquet write inside
  it materializes the lazy owner's plan and is charged to that owner;
  the lineage pass and manifest that follow are the catalog's own work.

Self time of a layer is the wall time it owned; time before the first
layer is entered is ``unattributed``.  Together they cover the traced
operation's wall.  Job, stage and task counts come from the status tracker
per job group; Python-worker, shuffle, spill, CPU and GC figures come
from Spark's event log, folded per job group after the session stops.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import glob
import importlib
import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

LAYERS = ("extract", "mentions", "linking.link", "linking.nil",
          "canonicalize.map", "canonicalize.triples", "event_coref",
          "canonicalize.graph", "catalog")

#: (module, attribute, layer).  ``build_triples_df`` imports the mentions
#: and cleankb functions at call time, so those are patched in their
#: defining modules; ``run_pipeline`` binds the rest at import.  The
#: ``big_local_checkpoint`` that materializes ``tag_flat`` needs no patch:
#: it runs while ``mentions`` is the lazy owner.
PATCH_POINTS = (
    ("gaia_spark.plans.pipeline", "extract_pages", "extract"),
    ("gaia_spark.plans.pipeline", "tag_flat", "mentions"),
    ("gaia_spark.plans.pipeline", "flat_surfaces", "mentions"),
    ("gaia_spark.plans.pipeline", "flat_assertions", "mentions"),
    ("gaia_spark.plans.pipeline", "flat_mentions", "mentions"),
    ("gaia_spark.operators.mentions", "tag_flat", "mentions"),
    ("gaia_spark.operators.mentions", "flat_surfaces", "mentions"),
    ("gaia_spark.operators.mentions", "flat_assertions", "mentions"),
    ("gaia_spark.plans.pipeline", "link_mentions", "linking.link"),
    ("gaia_spark.plans.pipeline", "nil_clusters", "linking.nil"),
    ("gaia_spark.plans.pipeline", "canonicalize_mentions",
     "canonicalize.map"),
    ("gaia_spark.plans.pipeline", "canonical_map", "canonicalize.map"),
    ("gaia_spark.plans.pipeline", "canonical_triples",
     "canonicalize.triples"),
    ("gaia_spark.plans.pipeline", "clean_kb", "canonicalize.triples"),
    ("gaia_spark.operators.cleankb", "valid_triples",
     "canonicalize.triples"),
    ("gaia_spark.plans.pipeline", "merged_events", "event_coref"),
    ("gaia_spark.plans.pipeline", "graph_nodes", "canonicalize.graph"),
    ("gaia_spark.plans.pipeline", "graph_edges", "canonicalize.graph"),
)
UNATTRIBUTED = "unattributed"

#: per-layer metric → unit; counts from the status tracker, the rest
#: from the event log (``self_s``/``rows_out`` from the tracer itself)
LAYER_METRICS = {
    "self_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "failed_tasks": "count", "rows_out": "rows", "py_worker_s": "s",
    "py_bytes_in": "bytes", "py_bytes_out": "bytes",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "cpu_s": "s", "gc_s": "s",
}
COUNT_METRICS = ("jobs", "stages", "tasks", "failed_tasks", "rows_out")


class OpTrace:
    """The timeline of one traced operation."""

    def __init__(self, tag: str):
        self.tag = tag
        self.self_s: dict[str, float] = collections.defaultdict(float)
        self.catalog_write_s = 0.0
        self.catalog_rows = 0
        #: wall time spent in the tracer's own bookkeeping and job-group
        #: calls, charged to the layer that owns the time after it
        self.overhead_s = 0.0
        self.outputs: dict[str, list[DataFrame]] = \
            collections.defaultdict(list)
        # filled in after the operation
        self.rows: dict[str, int] = {}
        self.counts: dict[str, dict[str, int]] = {}
        self.resume_s = 0.0
        self.bytes_written = 0
        self.peak_rss_bytes = 0

    def group(self, layer: str | None) -> str:
        return f"{self.tag}|{layer or UNATTRIBUTED}"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.op: OpTrace | None = None
        self._stack: list[str] = []
        self._lazy: str | None = None
        self._owner: str | None = None
        self._t = 0.0

    # -- timeline -------------------------------------------------------
    def _switch(self, owner: str | None) -> None:
        now = time.perf_counter()
        self.op.self_s[self._owner or UNATTRIBUTED] += now - self._t
        self._t = now
        if owner != self._owner:
            self._owner = owner
            self.sc.setJobGroup(self.op.group(owner), owner or UNATTRIBUTED)
        self.op.overhead_s += time.perf_counter() - now

    def _enter(self, layer: str) -> None:
        self._stack.append(layer)
        self._switch(layer)

    def _exit(self) -> None:
        layer = self._stack.pop()
        if not self._stack and layer != "catalog":
            self._lazy = layer
        self._switch(self._stack[-1] if self._stack else self._lazy)

    def _wrap(self, fn, layer: str, record: bool = True):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self._enter(layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._exit()
            # rows_out counts what the pipeline got back, not the
            # results of calls nested inside another layer function
            if record and not self._stack and isinstance(out, DataFrame):
                self.op.outputs[layer].append(out)
            return out
        return traced

    def _wrap_catalog_write(self, fn):
        @functools.wraps(fn)
        def traced(cat, *args, **kwargs):
            t0 = time.perf_counter()
            self._enter("catalog")
            try:
                manifest = fn(cat, *args, **kwargs)
            finally:
                self._exit()
                self.op.catalog_write_s += time.perf_counter() - t0
            self.op.catalog_rows += manifest["rows"]
            return manifest
        return traced

    def _wrap_parquet_write(self, fn):
        @functools.wraps(fn)
        def traced(writer, *args, **kwargs):
            if not (self._stack and self._stack[-1] == "catalog"):
                return fn(writer, *args, **kwargs)
            # the materializing write of the lazy owner's plan
            self._enter(self._lazy)
            try:
                return fn(writer, *args, **kwargs)
            finally:
                self._exit()
        return traced

    @contextlib.contextmanager
    def traced_op(self, tag: str):
        """Patch the layer functions and time one operation under them."""
        from gaia_spark.catalog import Catalog

        patches = [(importlib.import_module(m), a, layer)
                   for m, a, layer in PATCH_POINTS]
        saved = [(mod, a, getattr(mod, a)) for mod, a, _ in patches]
        saved += [(Catalog, "write", Catalog.write),
                  (Catalog, "read", Catalog.read),
                  (DataFrameWriter, "parquet", DataFrameWriter.parquet)]
        self.op = op = OpTrace(tag)
        self._stack, self._lazy, self._owner = [], None, None
        for mod, a, layer in patches:
            setattr(mod, a, self._wrap(getattr(mod, a), layer))
        Catalog.write = self._wrap_catalog_write(Catalog.write)
        Catalog.read = self._wrap(Catalog.read, "catalog", record=False)
        DataFrameWriter.parquet = self._wrap_parquet_write(
            DataFrameWriter.parquet)
        self._t = time.perf_counter()
        self.sc.setJobGroup(op.group(None), UNATTRIBUTED)
        try:
            yield op
        finally:
            self._switch(None)
            for obj, a, orig in saved:
                setattr(obj, a, orig)
            self.sc.setJobGroup("perfbench", "benchmark")

    # -- counts ---------------------------------------------------------
    def count_rows(self, op: OpTrace) -> dict[str, int]:
        """Rows of every DataFrame each layer returned to the pipeline,
        and for ``catalog`` the rows it wrote (counted after the
        operation, outside its wall, in a job group of its own)."""
        self.sc.setJobGroup(f"{op.tag}.rows", "rows_out")
        rows = {layer: sum(df.count() for df in dfs)
                for layer, dfs in op.outputs.items()}
        rows["catalog"] = rows.get("catalog", 0) + op.catalog_rows
        self.sc.setJobGroup("perfbench", "benchmark")
        op.outputs.clear()
        return rows

    def job_counts(self, op: OpTrace, timeout_s: float = 30.0) -> dict:
        """{layer: {jobs, stages, tasks, failed_tasks}} from the status
        tracker, once every job of the operation has finished."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        out = {}
        for layer in LAYERS + (UNATTRIBUTED,):
            jobs = st.getJobIdsForGroup(op.group(
                None if layer == UNATTRIBUTED else layer))
            while True:
                infos = [st.getJobInfo(j) for j in jobs]
                if all(i and i.status != "RUNNING" for i in infos) \
                        or time.monotonic() > deadline:
                    break
                time.sleep(0.05)
            stages = {s for i in infos if i for s in i.stageIds}
            ran = [si for si in map(st.getStageInfo, sorted(stages))
                   if si and si.numCompletedTasks + si.numFailedTasks > 0]
            out[layer] = {
                "jobs": len(jobs),
                "stages": len(ran),
                "tasks": sum(si.numTasks for si in ran),
                "failed_tasks": sum(si.numFailedTasks for si in ran),
            }
        return out


# -- event log ----------------------------------------------------------
_PY_METRICS = {"time to run Python workers": "py_worker_ms",
               "data sent to Python workers": "py_bytes_in",
               "data returned from Python workers": "py_bytes_out"}


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """{job group: {py_worker_s, py_bytes_in, py_bytes_out,
    shuffle_write_bytes, spill_bytes, cpu_s, gc_s}} summed over the
    tasks of every stage submitted under that group."""
    files = glob.glob(os.path.join(log_dir, "*", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    stage_group: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = collections.defaultdict(
        lambda: collections.defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get(
                        "spark.jobGroup.id", "")
                elif kind == "SparkListenerTaskEnd":
                    a = acc[stage_group.get(ev["Stage ID"], "")]
                    m = ev.get("Task Metrics") or {}
                    a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    a["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                    for u in ev["Task Info"].get("Accumulables", ()):
                        key = _PY_METRICS.get(u.get("Name"))
                        if key and "Update" in u:
                            a[key] += int(u["Update"])
    out = {}
    for group, a in acc.items():
        d = {k: a[k] for k in ("cpu_s", "gc_s", "spill_bytes",
                               "shuffle_write_bytes", "py_bytes_in",
                               "py_bytes_out")}
        d["py_worker_s"] = a["py_worker_ms"] / 1e3
        out[group] = d
    return out
