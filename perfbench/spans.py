"""Span tracer for the benchmark's traced pass.

Everything here wraps the engine from the outside: a span is a Spark job
group set around a call the benchmark makes, Arrow traffic is counted by
wrapping ``DataFrame.toPandas`` and ``SparkSession.createDataFrame``, the
``plans`` layer by wrapping ``cut_lineage`` and ``SuperstepRunner.commit``
wherever the engine bound them, and executor-side work comes from the
Spark event log, parsed after the session stops.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024
# cpu_s and jit_s come from the benchmark's own meter, the rest from here
SPAN_MEASURES = (
    "wall_s",
    "cpu_s",
    "jit_s",
    "spark_jobs",
    "spark_stages",
    "spark_busy_s",
    "executor_run_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "arrow_rows",
    "arrow_mb",
    "arrow_s",
    "driver_self_s",
)


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Collects spans, Arrow transfers and plan-layer calls for one pass."""

    def __init__(self, log_dir: str):
        self.log_dir = os.path.abspath(log_dir)
        self.spans: dict[str, tuple[float, float]] = {}
        self.current: str | None = None
        self.arrow: list[tuple[str | None, float, float, int, int]] = []
        self.plan_calls: dict[str, list[float]] = defaultdict(list)
        self._arrow_depth = 0
        self._undo: list[tuple[object, str, object]] = []

    def spark_conf(self) -> dict:
        os.makedirs(self.log_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    @contextmanager
    def span(self, sc, name: str):
        if name in self.spans:
            raise ValueError(f"span {name!r} opened twice")
        sc.setJobGroup(name, name)
        self.current = name
        t0 = time.time()
        try:
            yield
        finally:
            self.spans[name] = (t0, time.time())
            self.current = None
            sc.setJobGroup("bench.outside", "bench.outside")

    # -- wrappers -----------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _arrow_call(self, fn, args, kwargs, frame=None):
        """Run a transfer; count the pandas frame it sends, or else returns."""
        if self._arrow_depth:  # one transfer implemented through another
            return fn(*args, **kwargs)
        self._arrow_depth += 1
        t0 = time.time()
        try:
            out = fn(*args, **kwargs)
        finally:
            self._arrow_depth -= 1
        frame = out if frame is None else frame
        rows = nbytes = 0
        if hasattr(frame, "memory_usage"):
            rows, nbytes = len(frame), int(frame.memory_usage(index=False).sum())
        self.arrow.append((self.current, t0, time.time(), rows, nbytes))
        return out

    def _timed_plan(self, name: str, fn):
        calls = self.plan_calls[name]

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                calls.append(time.perf_counter() - t0)

        return wrapper

    def install(self, spark) -> None:
        import grappolo_spark.plans.iteration as iteration

        # the concrete classes: pyspark's public DataFrame is an abstract
        # parent whose methods the classic implementation overrides
        DataFrame, SparkSession = type(spark.range(0)), type(spark)
        to_pandas = DataFrame.toPandas
        create = SparkSession.createDataFrame
        tracer = self

        def traced_to_pandas(df, *a, **k):
            return tracer._arrow_call(to_pandas, (df, *a), k)

        def traced_create(session, data, *a, **k):
            return tracer._arrow_call(create, (session, data, *a), k, frame=data)

        self._patch(DataFrame, "toPandas", traced_to_pandas)
        self._patch(SparkSession, "createDataFrame", traced_create)

        commit = iteration.SuperstepRunner.commit
        self._patch(
            iteration.SuperstepRunner,
            "commit",
            self._timed_plan("plans.SuperstepRunner.commit", commit),
        )
        # operator modules bind cut_lineage by name at import: rebind it in
        # every loaded engine module that holds the original
        cut = iteration.cut_lineage
        traced_cut = self._timed_plan("plans.cut_lineage", cut)
        for name, mod in list(sys.modules.items()):
            if name.startswith("grappolo_spark") and getattr(mod, "cut_lineage", None) is cut:
                self._patch(mod, "cut_lineage", traced_cut)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- event log ----------------------------------------------------------

    def read_event_log(self, app_id: str):
        """Per-group jobs, completed stages and stage metrics from the log."""
        path = os.path.join(self.log_dir, app_id)
        jobs: dict[int, dict] = {}
        stage_group: dict[tuple[int, int], str | None] = {}
        stages = []
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    props = ev.get("Properties") or {}
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_group[key] = props.get("spark.jobGroup.id")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    acc = {
                        a["Name"]: a["Value"]
                        for a in info.get("Accumulables", [])
                        if isinstance(a.get("Value"), (int, float))
                    }
                    stages.append((stage_group.get(key), acc))
        return jobs, stages

    def layers(self, app_id: str) -> tuple[dict, list[str]]:
        """Per-span metrics and the list of attribution problems."""
        jobs, stages = self.read_event_log(app_id)
        problems = []
        for jid, job in sorted(jobs.items()):
            if job["group"] not in self.spans:
                problems.append(f"job {jid} ran outside every span ({job['group']!r})")
            if job["end"] is None:
                problems.append(f"job {jid} never ended")
        out = {}
        for name, (t0, t1) in self.spans.items():
            span_jobs = [j for j in jobs.values() if j["group"] == name]
            job_iv = [(j["start"], j["end"] or t1) for j in span_jobs]
            arrow = [a for a in self.arrow if a[0] == name]
            arrow_iv = [(a[1], a[2]) for a in arrow]
            accs = [acc for g, acc in stages if g == name]

            def acc_sum(*keys):
                return sum(acc.get(k, 0.0) for acc in accs for k in keys)

            wall = t1 - t0
            m = {
                "wall_s": wall,
                "spark_jobs": len(span_jobs),
                "spark_stages": len(accs),
                "spark_busy_s": union_seconds(job_iv, t0, t1),
                "executor_run_s": acc_sum("internal.metrics.executorRunTime") / 1000.0,
                "shuffle_read_mb": acc_sum(
                    "internal.metrics.shuffle.read.remoteBytesRead",
                    "internal.metrics.shuffle.read.localBytesRead",
                )
                / MB,
                "shuffle_write_mb": acc_sum("internal.metrics.shuffle.write.bytesWritten")
                / MB,
                "spill_mb": acc_sum("internal.metrics.diskBytesSpilled") / MB,
                "arrow_rows": sum(a[3] for a in arrow),
                "arrow_mb": sum(a[4] for a in arrow) / MB,
                "arrow_s": sum(a[2] - a[1] for a in arrow),
                # Arrow calls run Spark jobs of their own, so the busy time
                # is the union of both kinds of interval, not their sum
                "driver_self_s": wall - union_seconds(job_iv + arrow_iv, t0, t1),
            }
            out.update({f"{name}.{k}": v for k, v in m.items()})
        for name, calls in self.plan_calls.items():
            out[f"{name}.calls"] = len(calls)
            out[f"{name}.wall_s"] = sum(calls)
        return out, problems

