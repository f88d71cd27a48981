"""Per-layer numbers from outside the engine.

Two sources, joined on wall-clock time:

- **Spans** the benchmark records around calls into the engine's public
  operator functions (the ones ``plans.pipeline`` calls) and around its own
  calls such as each entry query.
- **Spark's event log** (uncompressed, Spark 4.1 rolling layout
  ``eventlog_v2_<app>/events_<n>_<app>``): jobs with their description and
  times, and per-task run/CPU/GC time, shuffle bytes, records written and
  the Python-worker metrics ("time to run Python workers", "data sent
  to/returned from Python workers").

Every Spark job is attributed to one layer: by the pipeline's own
``stage-<name>`` job description; otherwise by the innermost span open when
the job was submitted; otherwise to ``plans.pipeline.unattributed``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

UNATTRIBUTED = "plans.pipeline.unattributed"

# pipeline stage label (plans.pipeline ``stage-<name>``) -> layer
STAGE_LAYERS = {
    "parsed": "sources.parse.parsed",
    "simplified": "operators.assemble.simplified",
    "covered": "operators.geometry_ops.covered",
    "intersections": "operators.geometry_ops.intersections",
    "clustering_domain": "operators.edges.clustering_domain",
    "clustering": "operators.cluster.clustering",
    "edges": "operators.edges.edges",
    "nodes": "operators.edges.nodes",
    "tiles": "operators.tiles.tiles",
}
STAGES = tuple(STAGE_LAYERS.values())
STAGE_QUANTITIES = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("task_s", "s"),
    ("jvm_cpu_s", "s"),
    ("gc_s", "s"),
    ("py_run_s", "s"),
    ("py_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("rows_out", "count"),
    ("task_skew", "ratio"),
)

# (module, attribute, layer): the engine functions the pipeline calls,
# looked up where the pipeline looks them up. A name the engine no longer
# has is skipped, so the wrappers survive refactors; the labelled stage
# jobs are attributed without them.
OPERATOR_CALLS = (
    ("sources.parse", "parse_osm", "sources.parse.parsed"),
    ("plans.pipeline", "parse_nodes", "sources.parse.parsed"),
    ("sources.parse", "ways_from_parsed", "operators.assemble.simplified"),
    ("sources.parse", "nodes_from_parsed", "operators.assemble.simplified"),
    ("operators.assemble", "assemble_clean_simplify", "operators.assemble.simplified"),
    ("operators.geometry_ops", "_covered_for_join", "operators.geometry_ops.covered"),
    # the covered table is written by the engine without a job label
    ("plans.pipeline", "WaterwayEngine._covered_stage", "operators.geometry_ops.covered"),
    ("plans.pipeline", "detect_intersections", "operators.geometry_ops.intersections"),
    ("plans.pipeline", "insert_intersections", "operators.geometry_ops.intersections"),
    ("plans.pipeline", "clustering_domain_fast", "operators.edges.clustering_domain"),
    # snap's eager jobs run before the clustering label is set
    ("plans.pipeline", "snap_map", "operators.cluster.clustering"),
    ("plans.pipeline", "build_edges", "operators.edges.edges"),
    ("plans.pipeline", "build_nodes", "operators.edges.nodes"),
    ("plans.pipeline", "with_node_cells", "operators.tiles.tiles"),
    ("plans.pipeline", "with_edge_cells", "operators.tiles.tiles"),
    ("plans.pipeline", "with_edge_covering", "operators.tiles.tiles"),
    ("plans.pipeline", "channel_density_rollup", "operators.tiles.tiles"),
)


@dataclass
class Span:
    layer: str
    start: float
    end: float
    detail: dict = field(default_factory=dict)


class Spans:
    """Records spans in memory; ``wrap`` patches a function so each call
    becomes a span. ``restore`` undoes every patch."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, layer: str, describe=None) -> None:
        """``describe(args)`` runs after the call and adds detail to its span."""
        fn = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr, None)
        if fn is None:
            return
        spans = self.spans

        def traced(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                spans.append(Span(layer, t0, time.time(), describe(args) if describe else {}))

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, fn))

    def wrap_operators(self) -> None:
        import importlib

        for module, attr, layer in OPERATOR_CALLS:
            owner = importlib.import_module(f"osmwaterwayextractor_spark.{module}")
            *path, name = attr.split(".")
            for part in path:
                owner = getattr(owner, part, None)
            if owner is not None:
                self.wrap(owner, name, layer)

    def record(self, layer: str, start: float, end: float) -> None:
        self.spans.append(Span(layer, start, end))

    def restore(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)


# --------------------------------------------------------------------------
# event log


@dataclass
class Task:
    run_s: float
    cpu_s: float
    gc_s: float
    py_run_s: float
    py_bytes: int
    shuffle_write_bytes: int
    records_written: int


@dataclass
class Job:
    job_id: int
    submit: float
    end: float
    description: str
    stage_ids: list[int]
    tasks: list[Task] = field(default_factory=list)


def event_files(events_dir: str) -> list[list[str]]:
    """Line-JSON files of each application log under ``events_dir``, one
    list per application, in write order (rolling ``events_<n>_<app>``
    parts sorted by ``n``)."""
    out = []
    for entry in sorted(os.listdir(events_dir)):
        path = os.path.join(events_dir, entry)
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            out.append([os.path.join(path, f) for f in parts])
        elif not entry.startswith("."):
            out.append([path])
    return out


def read_jobs(events_dir: str) -> list[Job]:
    """Jobs of every application; job and stage ids restart in each one
    (the benchmark starts several sessions in one run)."""
    out: list[Job] = []
    for app in event_files(events_dir):
        out.extend(_read_app(app))
    return sorted(out, key=lambda j: j.submit)


def _read_app(paths: list[str]) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        ev["Job ID"],
                        ev["Submission Time"] / 1e3,
                        ev["Submission Time"] / 1e3,
                        props.get("spark.job.description") or "",
                        list(ev.get("Stage IDs") or []),
                    )
                    jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        stage_job[sid] = job.job_id
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    jobs[stage_job[ev["Stage ID"]]].tasks.append(_task(ev))
    return list(jobs.values())


def _task(ev: dict) -> Task:
    tm = ev.get("Task Metrics") or {}
    acc = {
        a.get("Name"): float(a.get("Update") or 0)
        for a in (ev.get("Task Info") or {}).get("Accumulables") or []
    }
    return Task(
        run_s=tm.get("Executor Run Time", 0) / 1e3,
        cpu_s=tm.get("Executor CPU Time", 0) / 1e9,
        gc_s=tm.get("JVM GC Time", 0) / 1e3,
        py_run_s=acc.get("time to run Python workers", 0.0) / 1e3,
        py_bytes=int(
            acc.get("data sent to Python workers", 0)
            + acc.get("data returned from Python workers", 0)
        ),
        shuffle_write_bytes=(tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        records_written=(tm.get("Output Metrics") or {}).get("Records Written", 0),
    )


# --------------------------------------------------------------------------
# attribution


def attribute(job: Job, spans: list[Span]) -> str:
    if job.description.startswith("stage-"):
        stage = job.description[len("stage-"):]
        return STAGE_LAYERS.get(stage, f"{UNATTRIBUTED}.{stage}" if stage else UNATTRIBUTED)
    inner = None
    for s in spans:
        if s.start <= job.submit <= s.end and (inner is None or s.start >= inner.start):
            inner = s
    return inner.layer if inner is not None else UNATTRIBUTED


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of the intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layer_totals(jobs: list[Job], spans: list[Span], window: tuple[float, float]) -> dict:
    """Per-layer sums over the jobs submitted and the spans started inside
    ``window`` (one measured pass), plus the pass's unattributed wall."""
    lo, hi = window
    jobs = [j for j in jobs if lo <= j.submit <= hi]
    spans = [s for s in spans if lo <= s.start <= hi]
    out: dict[str, dict] = {}
    for s in spans:
        out.setdefault(s.layer, {"jobs": [], "spans": []})["spans"].append(s)
    for j in jobs:
        out.setdefault(attribute(j, spans), {"jobs": [], "spans": []})["jobs"].append(j)

    result: dict[str, dict] = {}
    covered: list[tuple[float, float]] = []
    for layer, b in out.items():
        ivs = [(j.submit, j.end) for j in b["jobs"]]
        if not layer.startswith(UNATTRIBUTED):
            ivs += [(s.start, s.end) for s in b["spans"]]
            covered += ivs
        tasks = [t for j in b["jobs"] for t in j.tasks]
        runs = sorted(t.run_s for t in tasks)
        med = statistics.median(runs) if runs else 0.0
        result[layer] = {
            "wall_s": _union_s(ivs),
            "driver_s": _union_s([(s.start, s.end) for s in b["spans"]]),
            "task_s": sum(runs),
            "jvm_cpu_s": sum(t.cpu_s for t in tasks),
            "gc_s": sum(t.gc_s for t in tasks),
            "py_run_s": sum(t.py_run_s for t in tasks),
            "py_bytes": sum(t.py_bytes for t in tasks),
            "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
            "rows_out": sum(t.records_written for t in tasks),
            "task_skew": (runs[-1] / med) if med > 0 else (1.0 if runs else 0.0),
            "jobs": len(b["jobs"]),
        }
    result["_pass"] = {
        "jobs": len(jobs),
        "unattributed_s": max(0.0, (hi - lo) - _union_s(covered)),
    }
    return result
