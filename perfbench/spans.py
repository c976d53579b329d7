"""Spans recorded from the benchmark's side of each layer boundary, and
the Spark event-log reader that attributes jobs, CPU and shuffle bytes to
them.

A span sets a Spark job group of its own, ``perfbench:<span name>#<n>``,
on the calling thread for its duration, so every job it submits can be
traced back to it through the event log. Spans nest per thread; a span
opened on a worker thread of a driver-side pool (where nothing is open
yet) is parented to the span open on the main thread. Jobs submitted with no group at all (pool threads
the engine starts itself) are counted, not dropped.

``Prefix`` spans time a lazy pipeline layer by layer: the pipeline prefix
ending at each layer is written to the noop sink, and every additive
quantity of a layer is its prefix's value minus the previous prefix's.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench:"

# every span the traced run reports; README.md maps each to the end-to-end
# metric it should move
SPANS = [
    "joins.asof_join",
    "operators.roll_features",
    "operators.sessionize",
    "sources.ensure_bucketed",
    "joins.build_asof_hist",
    "joins.asof_join_hist",
    "pipeline.normalizer.validate_features",
    "pipeline.enricher.clean_duplicates",
    "pipeline.record_ids.add_system_record_id",
    "pipeline.enricher.transform",
    "plans.feature_dag.compile_features",
    "functions.sampling.hash_sample_exact",
    "pipeline.cv.stratified_kfold_column",
    "pipeline.metrics.calculate_metrics_report",
    "functions.similarity.pq_topk_ivf_adc",
    "functions.similarity.kmeans_centroids",
    "functions.dedup.minhash_band_pairs",
    "functions.dedup.connected_components",
    "functions.stats.psi_monthly_report",
]
SPAN_FIELDS = ["wall_s", "self_s", "jobs", "executor_cpu_s", "shuffle_write_mb",
               "driver_gap_s"]
WORKLOAD_FIELDS = [
    "spark.gc_s", "spark.spill_mb", "spark.shuffle_read_mb",
    "spark.stages_skipped_ratio", "plan.exchanges", "trace.unattributed_jobs",
    "trace.overhead_s", "trace.wall_s", "trace.lazy_exec_s", "trace.remainder_s",
]


def per_layer_names() -> list[str]:
    return [f"{s}.{f}" for s in SPANS for f in SPAN_FIELDS] + WORKLOAD_FIELDS


class Tracer:
    """Records spans in memory; ``report`` joins them with the event log."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.records: list[dict] = []  # closed spans and prefix steps
        self.passes: list[tuple[float, float]] = []  # traced pass intervals
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []
        self._lock = threading.Lock()
        self._wrapped: list[tuple] = []
        self._ids = itertools.count()

    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {"name": name, "group": f"{GROUP_PREFIX}{name}#{next(self._ids)}",
               "children": [], "kind": "span"}
        stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                if parent is not None:
                    parent["children"].append((rec["start"], rec["end"]))
                self.records.append(rec)

    @contextmanager
    def traced_pass(self, workload: str):
        """One traced pass; jobs outside any named span are attributed to
        the workload group (they show in the remainder, not as unattributed)."""
        with self.span(workload):
            t0 = time.time()
            yield
        self.passes.append((t0, time.time()))

    def prefix(self, name: str, run, prev: dict | None) -> dict:
        """Run ``run()`` (one prefix of a lazy pipeline) under group ``name``;
        the record's additive metrics are taken relative to ``prev``."""
        with self.span(name) as rec:
            run()
        rec["kind"] = "prefix"
        rec["prev"] = prev
        return rec

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a version that runs inside a span.

        A call that returns a DataFrame has only planned its work, which
        would run later under whatever consumes the frame. So the wrapper
        then writes the call's first DataFrame argument and its result to
        the noop sink, as the prefixes ``<name>:input`` and
        ``<name>:output``; the difference is the layer's own execution."""
        from pyspark.sql import DataFrame

        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name) as rec:
                out = fn(*a, **kw)
                if isinstance(out, DataFrame):
                    src = next((x for x in (*a, *kw.values()) if isinstance(x, DataFrame)), None)
                    n_children = len(rec["children"])
                    prev = None if src is None else self.prefix(
                        f"{name}:input", lambda: noop(src), None)
                    self.prefix(f"{name}:output", lambda: noop(out), prev)
                    rec["materialised"] = rec["children"][n_children:]
                    del rec["children"][n_children:]
            return out

        setattr(module, attr, traced)
        self._wrapped.append((module, attr, fn))

    def unwrap(self) -> None:
        while self._wrapped:
            module, attr, fn = self._wrapped.pop()
            setattr(module, attr, fn)


def noop(df) -> None:
    """Run ``df`` to completion, writing it nowhere."""
    df.write.format("noop").mode("overwrite").save()


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _jobs_and_stages(events: list[dict]):
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    submitted: dict[int, float] = {}  # stage id -> submission time
    stage_sum: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
            }
            jobs[ev["Job ID"]]["stages"] = ev.get("Stage IDs", [])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            submitted[info["Stage ID"]] = info.get("Submission Time", 0) / 1000.0
            stage_group[info["Stage ID"]] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            acc = stage_sum[ev["Stage ID"]]
            acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            rd = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 1e6
            wr = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 1e6
    return jobs, stage_group, stage_sum, submitted


def report(tracer: Tracer, events: list[dict], untraced_pass_s: float,
           exchanges: float) -> dict[str, float]:
    """Per-layer metrics, each a mean per traced pass; spans the workload
    does not exercise read 0."""
    jobs, stage_group, stage_sum, submitted = _jobs_and_stages(events)
    n_pass = max(len(tracer.passes), 1)

    def in_passes(t: float) -> bool:
        return any(a <= t <= b for a, b in tracer.passes)

    pass_jobs = {j: v for j, v in jobs.items() if in_passes(v["start"])}
    by_group: dict[str, list[dict]] = defaultdict(list)
    for v in pass_jobs.values():
        by_group[v["group"]].append(v)
    stage_by_group: dict[str | None, dict] = defaultdict(lambda: defaultdict(float))
    for sid, acc in stage_sum.items():
        for k, x in acc.items():
            stage_by_group[stage_group.get(sid)][k] += x

    def raw(rec: dict | None) -> dict[str, float]:
        """Wall, jobs and task totals of one record's own job group, the
        union of those jobs' intervals and the union of its child spans."""
        if rec is None:
            return defaultdict(float)
        own = by_group[rec["group"]]
        stages = stage_by_group[rec["group"]]
        return {"wall": rec["end"] - rec["start"], "jobs": len(own),
                "busy": _union([(v["start"], v["end"] or rec["end"]) for v in own]),
                "children": _union(rec["children"]),
                "cpu": stages["cpu_s"], "wmb": stages["shuffle_write_mb"]}

    out = dict.fromkeys(per_layer_names(), 0.0)
    lazy_exec = 0.0
    for rec in tracer.records:
        name, _, role = rec["name"].partition(":")
        if name not in SPANS or role == "input":
            continue
        cur = raw(rec)
        if rec["kind"] == "prefix":
            # every additive quantity is the prefix's minus the previous one's
            p = raw(rec["prev"])
            delta = {k: cur[k] - p[k] for k in ("wall", "jobs", "busy", "cpu", "wmb")}
            self_s, gap = delta["wall"], delta["wall"] - delta["busy"]
            if role == "output":  # a lazy layer's execution, see Tracer.wrap
                lazy_exec += self_s
                cur = delta
        else:
            delta = cur
            cur["wall"] -= _union(rec.get("materialised", []))
            self_s = cur["wall"] - cur["children"]
            gap = self_s - cur["busy"]
        out[f"{name}.wall_s"] += cur["wall"] / n_pass
        out[f"{name}.self_s"] += self_s / n_pass
        out[f"{name}.jobs"] += delta["jobs"] / n_pass
        out[f"{name}.executor_cpu_s"] += delta["cpu"] / n_pass
        out[f"{name}.shuffle_write_mb"] += delta["wmb"] / n_pass
        out[f"{name}.driver_gap_s"] += gap / n_pass

    totals = defaultdict(float)
    for sid, t in submitted.items():
        if in_passes(t):
            for k, x in stage_sum[sid].items():
                totals[k] += x
    # a prefix that a longer prefix supersedes, and a lazy layer's output
    # written by the wrapper, are re-run work of the trace, not of the pass
    superseded = sum(r["prev"]["end"] - r["prev"]["start"] for r in tracer.records
                     if r["kind"] == "prefix" and r["prev"] is not None)
    superseded += sum(r["end"] - r["start"] for r in tracer.records
                      if r["name"].endswith(":output"))
    traced_wall = (sum(b - a for a, b in tracer.passes) - superseded) / n_pass
    span_self = sum(out[f"{s}.self_s"] for s in SPANS)
    listed = {sid for v in pass_jobs.values() for sid in v["stages"]}
    out.update({
        "spark.gc_s": totals["gc_s"] / n_pass,
        "spark.spill_mb": totals["spill_mb"] / n_pass,
        "spark.shuffle_read_mb": totals["shuffle_read_mb"] / n_pass,
        "spark.stages_skipped_ratio": len(listed - submitted.keys()) / max(len(listed), 1),
        "plan.exchanges": float(exchanges),
        "trace.unattributed_jobs": sum(
            1 for v in pass_jobs.values() if not v["group"]) / n_pass,
        "trace.overhead_s": traced_wall - untraced_pass_s,
        "trace.wall_s": traced_wall,
        "trace.lazy_exec_s": lazy_exec / n_pass,
        "trace.remainder_s": traced_wall - span_self + lazy_exec / n_pass,
    })
    return out
