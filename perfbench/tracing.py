"""Spans around calls into the program's layers, and the per-layer table.

The traced run wraps the public functions of each layer (at their module
attributes, so the program's own orchestration calls the wrappers) and
records one span per call: name, start, end, parent span and run id.
Each span tags the Spark jobs it starts with ``setJobGroup``; the
offline pass over the uncompressed Spark event log then attributes every
task to the span, and so to the layer, whose job ran it.

Attribution rules:

- A job belongs to the innermost span open when it started. After a
  layer call returns, jobs keep the group of the layer entered last
  until the next layer call: a lazy frame that its caller forces belongs
  to the layer that built it. ``DataFrame.localCheckpoint`` calls inside
  a run get a span of that layer too, so their time is covered.
- ``materialize_stage`` spans take the layer of the stage they write;
  the manifest re-read (``_file_inventory``) and the completeness check
  are the ``write`` layer. Parquet encoding happens inside the producing
  layer's tasks and is counted there.
- Route and parse run in the same jobs. Their tasks are split by stage:
  a stage that runs Python (the ``mapInArrow`` parse) is
  ``extract.parse``, any other stage of an extract job is
  ``extract.route``. The self time of such a span is split between the
  two in proportion to their task time.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PIPELINE_LAYERS = ("extract.route", "extract.parse", "link", "cc", "assign", "merge", "write")
_STAGE_LAYER = {"extract": "extract.parse", "link": "link", "connected_components": "cc"}
_PYTHON_NODES = ("MapInArrow", "MapInPandas", "PythonRDD", "ArrowEvalPython", "BatchEvalPython", "PythonUDF")


@dataclass
class Span:
    id: int
    layer: str
    start: float
    end: float | None
    parent: int | None
    run: int | None


class Tracer:
    """In-memory span recorder; ``write`` dumps the spans at the end."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._last_layer: Span | None = None
        self._run: int | None = None
        self._patched: list[tuple[object, str, object]] = []
        # time this process spends recording spans and setting job groups
        self.overhead_s = 0.0

    def _group(self, tag: str) -> None:
        self.sc.setJobGroup(tag, tag, False)

    def _open(self, layer: str) -> Span:
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), layer, t0, None, parent, self._run)
        self.spans.append(span)
        self._stack.append(span)
        self._group(f"span-{span.id}")
        self.overhead_s += time.perf_counter() - t0
        return span

    def _close(self, span: Span) -> None:
        span.end = t0 = time.perf_counter()
        self._stack.pop()
        if span.layer == "run":
            self._group("untraced")
        elif len(self._stack) > 1:
            self._group(f"span-{self._stack[-1].id}")
        else:  # back at the run span: the layer stays current (see module doc)
            self._group(f"span-{span.id}")
        self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def run(self, run_id: int):
        """One timed repetition; jobs outside it are not traced."""
        self._run = run_id
        self._last_layer = None
        span = self._open("run")
        try:
            yield span
        finally:
            self._close(span)
            self._run = None

    def layer(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span of layer ``name``."""
        span = self._open(name)
        if len(self._stack) == 2:  # directly under the run span
            self._last_layer = span
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(span)

    def _wrap(self, fn, layer_of):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._run is None:
                return fn(*args, **kwargs)
            layer = layer_of if isinstance(layer_of, str) else layer_of(*args, **kwargs)
            return tracer.layer(layer, fn, *args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap the layers' public functions where the program looks them up."""
        from pyspark.sql import DataFrame

        import auth2wd_spark.operators.cc as cc
        import auth2wd_spark.operators.extract as ex
        import auth2wd_spark.operators.linking as li
        import auth2wd_spark.operators.merge as me
        import auth2wd_spark.plans.manifests as mf

        def stage_layer(df, stage_dir, stage_name, *a, **k):
            return _STAGE_LAYER.get(stage_name, "merge")

        targets = (
            (ex, "route", "extract.route"),
            (ex, "latest_snapshot", "extract.route"),
            (ex, "attach_secondary_bodies", "extract.route"),
            (ex, "extract", "extract.parse"),
            (li, "link", "link"),
            (cc, "build_edges", "cc"),
            (cc, "connected_components", "cc"),
            (cc, "assign_components", "assign"),
            (me, "merge_component", "merge"),
            (mf, "materialize_stage", stage_layer),
            (mf, "stage_is_complete", "write"),
            (mf, "_file_inventory", "write"),
        )
        # run_resumable imports the operators when called, so it finds the wrappers
        for module, name, layer in targets:
            self._patch(module, name, self._wrap(getattr(module, name), layer))

        original_ckpt = DataFrame.localCheckpoint
        tracer = self

        @functools.wraps(original_ckpt)
        def local_checkpoint(df, *args, **kwargs):
            if tracer._run is None or tracer._last_layer is None:
                return original_ckpt(df, *args, **kwargs)
            return tracer.layer(tracer._last_layer.layer, original_ckpt, df, *args, **kwargs)

        self._patch(DataFrame, "localCheckpoint", local_checkpoint)

    def _patch(self, owner, name: str, value) -> None:
        self._patched.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def uninstall(self) -> None:
        for owner, name, value in reversed(self._patched):
            setattr(owner, name, value)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


# --------------------------------------------------------------------------
# event log


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        text = f"{rdd.get('Name', '')} {rdd.get('Scope', '')} {rdd.get('Callsite', '')}"
        if any(node in text for node in _PYTHON_NODES):
            return True
    return False


def read_event_log(path: str) -> dict:
    """Jobs (group, SQL execution), stage → job and Python flags, task
    metrics and final physical plans from one uncompressed event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_python: dict[int, bool] = {}
    tasks: list[dict] = []
    plans: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sql = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "sql": int(sql) if sql is not None else None,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
                for info in ev.get("Stage Infos", []):
                    stage_python[info["Stage ID"]] = _is_python_stage(info)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_python[info["Stage ID"]] = stage_python.get(info["Stage ID"], False) or _is_python_stage(info)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_b": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Disk Bytes Spilled", 0),
                        "failed": bool(info.get("Failed")) or reason != "Success",
                    }
                )
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
    return {"jobs": jobs, "stage_job": stage_job, "stage_python": stage_python, "tasks": tasks, "plans": plans}


def _plan_tree(plan: str) -> str:
    """The operator tree of a formatted plan, without its node details."""
    return plan.split("\n\n", 1)[0]


# --------------------------------------------------------------------------
# per-layer table


def _job_span(job: dict | None, by_id: dict[int, Span]) -> Span | None:
    """The span whose job group tagged ``job``, if any."""
    group = (job or {}).get("group") or ""
    return by_id.get(int(group[5:])) if group.startswith("span-") else None


def _self_times(spans: list[Span]) -> dict[int, float]:
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None and s.end is not None:
            child[s.parent] += s.end - s.start
    return {s.id: (s.end - s.start) - child[s.id] for s in spans if s.end is not None}


def layer_table(spans: list[Span], log: dict, cores: int, runs: int) -> dict[str, float]:
    """Per-layer metrics averaged over ``runs`` timed repetitions, plus
    the share of run time no layer span covers."""
    by_id = {s.id: s for s in spans}
    own = _self_times(spans)

    def task_layer(task) -> tuple[str, int] | None:
        span = _job_span(log["jobs"].get(log["stage_job"].get(task["stage"])), by_id)
        if span is None or span.layer == "run":
            return None
        layer = span.layer
        if layer.startswith("extract."):
            layer = "extract.parse" if log["stage_python"].get(task["stage"]) else "extract.route"
        return layer, span.id

    per_layer: dict[str, list[dict]] = {}
    span_split: dict[int, dict[str, float]] = {}
    for task in log["tasks"]:
        hit = task_layer(task)
        if hit is None:
            continue
        layer, sid = hit
        per_layer.setdefault(layer, []).append(task)
        split = span_split.setdefault(sid, {})
        split[layer] = split.get(layer, 0.0) + task["run_s"]

    self_s: dict[str, float] = {}
    for s in spans:
        if s.layer == "run" or s.id not in own:
            continue
        split = span_split.get(s.id) if s.layer.startswith("extract.") else None
        total = sum(split.values()) if split else 0.0
        if total > 0:
            for layer, t in split.items():
                self_s[layer] = self_s.get(layer, 0.0) + own[s.id] * t / total
        else:
            self_s[s.layer] = self_s.get(s.layer, 0.0) + own[s.id]

    jobs_by_layer: dict[str, set] = {}
    for jid, job in log["jobs"].items():
        span = _job_span(job, by_id)
        if span is not None and span.layer != "run":
            jobs_by_layer.setdefault(span.layer, set()).add(jid)

    out: dict[str, float] = {}
    layers = set(PIPELINE_LAYERS) | set(self_s) | set(per_layer)
    n = max(runs, 1)
    for layer in sorted(layers):
        ts = per_layer.get(layer, [])
        times = [t["run_s"] for t in ts]
        task_s = sum(times)
        busy = self_s.get(layer, 0.0)
        med = statistics.median(times) if times else 0.0
        if layer.startswith("extract."):
            jobs = {log["stage_job"].get(t["stage"]) for t in ts}
        else:
            jobs = jobs_by_layer.get(layer, set())
        out[f"{layer}.self_s"] = busy / n
        out[f"{layer}.task_s"] = task_s / n
        out[f"{layer}.cpu_s"] = sum(t["cpu_s"] for t in ts) / n
        out[f"{layer}.gc_s"] = sum(t["gc_s"] for t in ts) / n
        out[f"{layer}.shuffle_mb"] = sum(t["shuffle_b"] for t in ts) / 1e6 / n
        out[f"{layer}.spill_mb"] = sum(t["spill_b"] for t in ts) / 1e6 / n
        out[f"{layer}.core_util"] = task_s / (busy * cores) if busy > 0 else 0.0
        out[f"{layer}.task_skew"] = max(times) / med if med > 0 else 0.0
        out[f"{layer}.jobs"] = len(jobs) / n
        out[f"{layer}.failed_tasks"] = sum(t["failed"] for t in ts) / n

    run_total = sum(s.end - s.start for s in spans if s.layer == "run" and s.end is not None)
    uncovered = sum(own[s.id] for s in spans if s.layer == "run" and s.id in own)
    out["run.uncovered_share"] = uncovered / run_total if run_total > 0 else 0.0
    return out


def broadcast_joins(spans: list[Span], log: dict, layer: str, runs: int) -> float:
    """BroadcastHashJoin nodes in the final plans of a layer's SQL executions."""
    by_id = {s.id: s for s in spans}
    execs = set()
    for job in log["jobs"].values():
        span = _job_span(job, by_id)
        if job.get("sql") is not None and span is not None and span.layer == layer:
            execs.add(job["sql"])
    n = sum(_plan_tree(log["plans"].get(e, "")).count("BroadcastHashJoin") for e in execs)
    return n / max(runs, 1)
