"""Spans around calls into the engine's layers, set from outside the engine.

``Tracer.install`` replaces module attributes (``catalog.write_table``,
``closure.el_closure``, ...) with wrappers that record a span per call and
tag the Spark jobs the call runs with a job group of their own.
``Tracer.restore`` puts the original attributes back. Spans stay in memory
(name, start, end, parent, run id) and are written out once the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path

# (module, attribute, span name): the public calls timed in a traced run
TARGETS = [
    ("phenoscape_owl_tools_spark.plans.kb_build", "run", "plan"),
    ("phenoscape_owl_tools_spark.plans.corpus_build", "run", "plan"),
    ("phenoscape_owl_tools_spark.catalog", "write_table", "catalog.write_table"),
    ("phenoscape_owl_tools_spark.catalog", "content_checksum", "catalog.content_checksum"),
    ("phenoscape_owl_tools_spark.catalog", "read_table", "catalog.read_table"),
    ("phenoscape_owl_tools_spark.operators.closure", "el_closure", "closure.el_closure"),
    ("phenoscape_owl_tools_spark.operators.salting", "choose_salt_factor", "salting.choose_salt_factor"),
    ("phenoscape_owl_tools_spark.operators.components", "connected_components",
     "components.connected_components"),
    # the data write inside catalog.write_table; the rest of write_table
    # is bookkeeping (read-back counts and the checksum)
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "spark.write_parquet"),
]

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    span_id: int
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def job_group(self) -> str:
        return f"{self.run_id}/{self.span_id}"


def _resolve(module_name: str, attr: str):
    owner = importlib.import_module(module_name)
    *path, name = attr.split(".")
    for part in path:
        owner = getattr(owner, part)
    return owner, name


def _call_attrs(name: str, args, kwargs, result) -> dict:
    """What a span records about its call beyond its times."""
    if name == "catalog.write_table":
        path = kwargs.get("path", args[1] if len(args) > 1 else "")
        return {"stage": Path(str(path)).name, "rows": result.get("row_count")}
    if name == "salting.choose_salt_factor":
        return {"salt": result}
    return {}


class Tracer:
    """Records spans for the calls listed in ``TARGETS`` while installed."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._originals: list[tuple[object, str, object]] = []
        self.run_id = ""

    # -- wrappers -----------------------------------------------------------
    def install(self) -> None:
        for module_name, attr, span_name in TARGETS:
            owner, name = _resolve(module_name, attr)
            original = getattr(owner, name)
            self._originals.append((owner, name, original))
            setattr(owner, name, self._wrap(original, span_name))

    def restore(self) -> None:
        while self._originals:
            owner, name, original = self._originals.pop()
            setattr(owner, name, original)

    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span_name) as sp:
                result = fn(*args, **kwargs)
                sp.attrs.update(_call_attrs(span_name, args, kwargs, result))
                return result

        traced.__perfbench_trace__ = True
        return traced

    # -- spans ----------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span, the child of the innermost open one, and run the
        Spark jobs started inside it under the span's own job group."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=len(self.spans),
            name=name,
            run_id=self.run_id,
            parent=parent.span_id if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty(JOB_GROUP, sp.job_group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, parent.job_group if parent else None)

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def installed_wrappers() -> list[str]:
    """Names of ``TARGETS`` attributes that currently hold a trace wrapper."""
    found = []
    for module_name, attr, _ in TARGETS:
        owner, name = _resolve(module_name, attr)
        if getattr(getattr(owner, name), "__perfbench_trace__", False):
            found.append(f"{module_name}.{attr}")
    return found


# -- aggregation ----------------------------------------------------------------

def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover.

    Raises if a child's time exceeds its parent's: spans nest on one thread,
    so that would be a tracer bug.
    """
    child_time: dict[int, float] = {}
    for sp in spans:
        if sp.parent is not None:
            child_time[sp.parent] = child_time.get(sp.parent, 0.0) + sp.seconds
    out = {}
    for sp in spans:
        own = sp.seconds - child_time.get(sp.span_id, 0.0)
        if own < -1e-6:
            raise AssertionError(f"children of span {sp.name}#{sp.span_id} exceed it")
        out[sp.span_id] = max(own, 0.0)
    return out


def spark_job_counts(sc, spans: list[Span]) -> dict[str, int]:
    """Jobs, tasks and failed tasks of the spans' job groups (statusTracker)."""
    st = sc.statusTracker()
    jobs: set[int] = set()
    for sp in spans:
        jobs.update(st.getJobIdsForGroup(sp.job_group))
    stages: set[int] = set()
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None and info.numCompletedTasks + info.numFailedTasks > 0:
            tasks += info.numTasks
            failed += info.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


def event_log_totals(log_dir: Path, run_id: str) -> dict[str, float]:
    """Shuffle bytes written, bytes spilled to disk, JVM GC seconds and Arrow
    bytes crossing the Python boundary, summed over the tasks of the jobs
    whose group belongs to ``run_id``. Read after the session stops."""
    stages: set[int] = set()
    totals = {"shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0,
              "python_sent_bytes": 0, "python_returned_bytes": 0}
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(JOB_GROUP) or ""
                    if group.split("/", 1)[0] == run_id:
                        stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    totals["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    totals["spill_bytes"] += m["Disk Bytes Spilled"]
                    totals["gc_s"] += m["JVM GC Time"] / 1000.0
                    for acc in ev.get("Task Info", {}).get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if name == "data sent to Python workers":
                            totals["python_sent_bytes"] += int(upd)
                        elif name == "data returned from Python workers":
                            totals["python_returned_bytes"] += int(upd)
    return totals
