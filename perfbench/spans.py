"""Span tracer for the traced benchmark run.

Wraps, from outside the engine, the public functions the resumable job
calls into each module; every wrapped call becomes a span (name, start,
end, parent, operation id) tagged with its own Spark job group, so the
Spark jobs/stages it triggers are attributed to it. Three "phases" cover
work that happens in the job's own body between wrapped calls:

- ``job.discover``  job start -> ``kg_pipeline_from_transcripts`` (round
  discovery collect + ``TableIO.completed_partitions``);
- ``neardup.pairs`` ``dedup.delta_near_dup_pairs`` -> the
  ``neardup_edges`` write (candidate join + exact-Jaccard verification are
  materialised by the job's local checkpoint of the edges);
- ``graph``         ``emit.materialize_graph`` -> the triples manifest
  commit (node/edge table writes are its children).

Spans stay in memory; ``Tracer.dump`` writes them when the run ends.
Spark stage metrics are read from the status store after the operation
(``statusStore().stageAttempt`` works with the UI disabled). Time the
tracer spends on its own bookkeeping inside the operation is summed in
``overhead_s``.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

# wrapped entry points: (module path, attribute, span name, capture args)
_FUNCTIONS = [
    ("smh_to_jsonld_spark.plans.job", "run_resumable_kg_job", "job", False),
    ("smh_to_jsonld_spark.plans.job", "kg_pipeline_from_transcripts", "pipeline.plan", False),
    ("smh_to_jsonld_spark.plans.job", "rebuild_entities", "entities", False),
    ("smh_to_jsonld_spark.plans.job", "rebuild_near_dups", "neardup", False),
    ("smh_to_jsonld_spark.operators.dedup", "delta_near_dup_pairs", "dedup.delta_pairs", True),
    ("smh_to_jsonld_spark.operators.canon", "connected_components", "canon.cc", True),
    ("smh_to_jsonld_spark.operators.emit", "materialize_graph", "emit.materialize_graph", False),
]
_TABLE_METHODS = ["write", "write_data", "commit", "read"]

# phase name -> (span that opens it, (span, table) that closes it)
_PHASES = {
    "job.discover": ("job", ("pipeline.plan", None)),
    "neardup.pairs": ("dedup.delta_pairs", ("tables.write", "neardup_edges")),
    "graph": ("emit.materialize_graph", ("tables.commit", "triples")),
}

SPARK_KEYS = ("jobs", "tasks", "failed_tasks", "executor_run_s",
              "shuffle_write_bytes", "spill_bytes")


def _data_files(path: Path) -> dict:
    """parquet file -> (size, mtime) under a table directory."""
    out = {}
    for p in path.rglob("*.parquet"):
        st = p.stat()
        out[str(p)] = (st.st_size, st.st_mtime_ns)
    return out


class Tracer:
    def __init__(self, spark, op_id: str):
        self.sc = spark.sparkContext
        self.op_id = op_id
        self.spans: list = []
        self.stack: list = []
        self.captured: dict = {}  # span name -> [(args, kwargs), ...]
        self.overhead_s = 0.0
        self._patches: list = []
        self._next = 0

    # -- spans ------------------------------------------------------------
    def _open(self, name: str, table: str | None = None, phase: bool = False) -> dict:
        top = self.stack[-1] if self.stack else None
        if top is not None and top["phase"]:
            _, end = _PHASES[top["name"]]
            if end == (name, None) or end == (name, table):
                self._close(top)
                top = self.stack[-1] if self.stack else None
        self._next += 1
        span = {
            "id": self._next, "name": name, "table": table, "op": self.op_id,
            "parent": top["id"] if top else None, "phase": phase,
            "group": f"{self.op_id}/{self._next}", "start": time.perf_counter(),
        }
        self.stack.append(span)
        self.sc.setJobGroup(span["group"], name)
        return span

    def _close(self, span: dict) -> None:
        # an inner phase still open when its parent returns ends with it
        while self.stack and self.stack[-1] is not span:
            self._close(self.stack[-1])
        span["end"] = time.perf_counter()
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1]["group"], self.stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.spans.append(span)

    def _call(self, name, fn, args, kwargs, table=None, capture=False,
              files_of=None):
        t0 = time.perf_counter()
        span = self._open(name, table)
        if capture:
            self.captured.setdefault(name, []).append((args, kwargs))
        before = _data_files(files_of) if files_of is not None else None
        opens = [p for p, (start, _) in _PHASES.items() if start == name]
        t1 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            t2 = time.perf_counter()
            if before is not None:
                after = _data_files(files_of)
                changed = [p for p, v in after.items() if before.get(p) != v]
                span["files_written"] = len(changed)
                span["bytes_written"] = sum(after[p][0] for p in changed)
            self._close(span)
            for phase in opens:
                self._open(phase, phase=True)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)
        return out

    # -- install / remove wrappers ----------------------------------------
    def _patch(self, owner, attr, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _function_wrapper(self, name, orig, capture):
        if name == "job":
            return lambda *a, **kw: self._job(orig, a, kw)
        return lambda *a, **kw: self._call(name, orig, a, kw, capture=capture)

    def _table_wrapper(self, meth, orig):
        def method(io, first, *a, **kw):
            # write/write_data(df, table, ...), read(spark, table), commit(table, ...)
            table = first if meth == "commit" else (a[0] if a else kw.get("table"))
            files = io.root / table if meth == "write_data" else None
            return self._call(f"tables.{meth}", orig, (io, first, *a), kw,
                              table=table, files_of=files)

        return method

    def install(self) -> None:
        import importlib

        from smh_to_jsonld_spark.sources.tables import TableIO

        for mod_name, attr, name, capture in _FUNCTIONS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr,
                        self._function_wrapper(name, getattr(mod, attr), capture))
        for meth in _TABLE_METHODS:
            self._patch(TableIO, meth, self._table_wrapper(meth, getattr(TableIO, meth)))

    def _job(self, fn, args, kwargs):
        t0 = time.perf_counter()
        span = self._open("job")
        self._open("job.discover", phase=True)
        self.overhead_s += time.perf_counter() - t0
        try:
            return fn(*args, **kwargs)
        finally:
            t2 = time.perf_counter()
            self._close(span)
            self.overhead_s += time.perf_counter() - t2

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- Spark metrics ------------------------------------------------------
    def collect_spark_metrics(self) -> None:
        """Attach per-span Spark job/stage metrics (the span's own jobs,
        not its children's) from the status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for span in self.spans:
            m = dict.fromkeys(SPARK_KEYS, 0)
            jobs = tracker.getJobIdsForGroup(span["group"])
            m["jobs"] = len(jobs)
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            for sid in stages:
                sd = store.stageAttempt(sid, 0, False, None, False, None)._1()
                m["tasks"] += sd.numCompleteTasks()
                m["failed_tasks"] += sd.numFailedTasks()
                m["executor_run_s"] += sd.executorRunTime() / 1000.0
                m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            span["spark"] = m

    # -- reporting ------------------------------------------------------------
    def finished(self) -> list:
        """Spans with duration and self time (duration minus the part its
        children cover), in start order."""
        by_parent: dict = {}
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            by_parent.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["self_s"] = s["dur_s"] - sum(c["dur_s"] for c in by_parent.get(s["id"], []))
        return sorted(self.spans, key=lambda s: s["start"])

    def dump(self, path: Path, extra: dict) -> None:
        spans = self.finished()
        t0 = min((s["start"] for s in spans), default=0.0)
        rows = []
        for s in spans:
            r = {k: v for k, v in s.items() if k not in ("phase", "group")}
            r["start"], r["end"] = s["start"] - t0, s["end"] - t0
            rows.append(r)
        path.write_text(json.dumps({"spans": rows, **extra}, indent=1))
