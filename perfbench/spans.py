"""Spans, staged runners and Spark plan metrics for the benchmark.

A workload's job is written once, as a sequence of ``run.stage(...)``
calls, one per public engine call. The runner decides what a stage
means:

- ``Plain`` (tracing off) returns the lazy DataFrame, so the job runs
  as one Spark pipeline ended by the workload's final action;
- ``Traced`` materialises each stage (``localCheckpoint``), so the next
  stage reads a ready input, and records a span around the call and the
  materialisation. Row counts and any extra aggregates ride along as a
  ``DataFrame.observe`` on the same job, so counting adds no Spark job.

Spans stay in memory; ``Tracer.dump`` writes them out at the end of the
run. Spark's own metrics (Python UDF stages, Exchanges, codegen) are
read after the job from the final adaptive plan of every stage.
"""

from __future__ import annotations

import contextlib
import json
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class Tracer:
    """In-memory span store. A span is a dict with ``id``, ``name``,
    ``start``, ``end`` (seconds since the tracer started), ``parent``
    (span id or None), ``job`` and free-form attributes."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []

    def open(self, name: str, job: int, parent: int | None) -> dict:
        span = {"id": len(self.spans), "name": name, "job": job,
                "parent": parent, "start": time.perf_counter() - self.t0,
                "end": None}
        self.spans.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter() - self.t0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=float) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover
    (children of one parent run one after another, never overlap)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + \
                s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0)
            for s in spans}


class Plain:
    """Tracing off: stages stay lazy."""

    def stage(self, name, make, observe=None, src=None) -> DataFrame:
        return make()

    def call(self, name, fn, df=None):
        return fn()

    def note(self, key, value) -> None:
        pass

    def after(self, fn) -> None:
        pass

    @contextlib.contextmanager
    def timing(self):
        yield

    def finish(self) -> None:
        pass


class Traced:
    """Tracing on: every stage is forced and timed as one span."""

    def __init__(self, spark, tracer: Tracer, job: int):
        self.spark = spark
        self.tracer = tracer
        self.job = job
        self.parent: int | None = None
        self.rows: dict[int, int] = {}
        self.pending: list[tuple[dict, object]] = []
        self.deferred: list[tuple[dict, object]] = []
        self.last: dict | None = None

    @contextlib.contextmanager
    def timing(self):
        """The job span: parent of every stage span of this job."""
        span = self.tracer.open("job", self.job, None)
        self.parent = span["id"]
        jobs0 = last_job_id(self.spark)
        try:
            yield
        finally:
            self.tracer.close(span)
            span["spark_jobs"] = last_job_id(self.spark) - jobs0

    def spans(self) -> list[dict]:
        return [s for s in self.tracer.spans if s["job"] == self.job]

    def _span(self, name):
        return self.tracer.open(name, self.job, self.parent)

    def stage(self, name, make, observe=None, src=None) -> DataFrame:
        jobs0 = last_job_id(self.spark)
        span = self._span(name)
        obs = Observation()
        df = make().observe(obs, F.count(F.lit(1)).alias("rows"), *[
            e.alias(k) for k, e in (observe or {}).items()])
        out = df.localCheckpoint(eager=True)
        self.tracer.close(span)
        span.update(obs.get)
        span["spark_jobs"] = last_job_id(self.spark) - jobs0
        if src is not None:
            span["rows_in"] = self.rows.get(id(src))
        self.rows[id(out)] = span["rows"]
        self.pending.append((span, df._jdf.queryExecution()))
        self.last = span
        return out

    def call(self, name, fn, df=None):
        jobs0 = last_job_id(self.spark)
        span = self._span(name)
        result = fn()
        self.tracer.close(span)
        span["spark_jobs"] = last_job_id(self.spark) - jobs0
        if df is not None:
            self.pending.append((span, df._jdf.queryExecution()))
        self.last = span
        return result

    def note(self, key, value) -> None:
        self.last[key] = value

    def after(self, fn) -> None:
        """Run ``fn() -> dict`` after the job and add its counts to the
        last span: for counts that need a Spark job of their own, which
        then stays outside the timed job."""
        self.deferred.append((self.last, fn))

    def finish(self) -> None:
        """Attach each stage's plan metrics and deferred counts to its
        span, after the job span has closed."""
        for span, qe in self.pending:
            span.update(plan_metrics(self.spark, qe.executedPlan()))
        for span, fn in self.deferred:
            span.update(fn())
        self.pending.clear()
        self.deferred.clear()


def last_job_id(spark) -> int:
    """Highest Spark job id seen so far (ids are dense and increasing,
    so a difference counts the jobs started in between, from any
    driver thread)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)


_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}


def plan_metrics(spark, plan) -> dict:
    """Sum Spark SQL metrics over a physical plan, descending through
    ``AdaptiveSparkPlanExec`` (its final plan) and each
    ``QueryStageExec.plan()``. Reused exchanges are skipped so their
    work counts once.

    Returns python_stages, python_boot_s, python_time_s,
    python_bytes_sent, python_bytes_received, shuffle_bytes,
    codegen_s and join_rows (output rows of the topmost join, or None).
    """
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    acc = {"python_stages": 0, "python_boot_s": 0.0, "python_time_s": 0.0,
           "python_bytes_sent": 0, "python_bytes_received": 0,
           "shuffle_bytes": 0, "codegen_s": 0.0, "join_rows": None}

    def value(m, key):
        metric = m.get(key)
        if metric is None:
            return 0
        return metric.value() * _SECONDS.get(metric.metricType(), 1)

    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("Reused"):
            continue
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        m = conv.asJava(node.metrics())
        if m.containsKey("pythonTotalTime"):
            acc["python_stages"] += 1
            acc["python_boot_s"] += value(m, "pythonBootTime")
            acc["python_time_s"] += value(m, "pythonTotalTime")
            acc["python_bytes_sent"] += value(m, "pythonDataSent")
            acc["python_bytes_received"] += value(m, "pythonDataReceived")
        acc["shuffle_bytes"] += value(m, "shuffleBytesWritten")
        acc["codegen_s"] += value(m, "pipelineTime")
        if "Join" in name and acc["join_rows"] is None:
            acc["join_rows"] = value(m, "numOutputRows")
        # depth-first, left child first: the first join met is topmost
        stack.extend(reversed(list(conv.asJava(node.children()))))
    return acc
