"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent, run id). Spans that wrap a Spark
action run under their own job group, so the jobs, stages, tasks and
failed tasks of that action attach to the span (read back through
``SparkContext.statusTracker``). Spans stay in memory; ``dump`` writes them
once, when the benchmark ends.

``patched_run_layers`` wraps, for the duration of a ``with`` block, the
calls ``anzlic_validator_spark.run`` makes into the manifest and engine
layers (it imported them by name, so they are wrapped in its namespace)
and the three DataFrame actions the run calls. No program file changes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from pyspark.sql import DataFrameWriter
from pyspark.sql.classic.dataframe import DataFrame  # the class actions run on


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str | None] = [None]
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        sid = self._next
        self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        if job_group:
            rec["job_group"] = f"perfbench-{self.run_id}-{sid}"
            self._groups.append(rec["job_group"])
            self.sc.setJobGroup(rec["job_group"], name)
        self._stack.append(sid)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if job_group:
                self._groups.pop()
                outer = self._groups[-1]
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(outer, outer)
                rec.update(self.job_counts(rec["job_group"]))
            self.spans.append(rec)

    def job_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for st in info.stageIds:
                si = tracker.getStageInfo(st)
                if si is None:  # skipped stage: planned but never run
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def since(self, mark: int) -> list[dict]:
        """Spans recorded after ``mark = len(tracer.spans)``."""
        return self.spans[mark:]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh, indent=1)


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part its direct children cover."""
    kids = sorted(
        (s["start"], s["end"]) for s in spans if s["parent"] == span["id"]
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span["end"] - span["start"] - covered


def _wrap(tracer: Tracer, fn, name, job_group=False, name_of=None):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        label = name_of(*args, **kwargs) if name_of else name
        with tracer.span(label, job_group=job_group):
            return fn(*args, **kwargs)

    return inner


def _write_name(_writer, path, *args, **kwargs) -> str:
    path = str(path).rstrip("/")
    if path.endswith("/verdicts"):
        return "action.write.verdicts"
    if path.endswith("/violations"):
        return "action.write.violations"
    if "/violations/bucket=" in path:
        return "action.write.global_violations"
    return "action.write.other"


@contextlib.contextmanager
def patched_run_layers(tracer: Tracer):
    """Wrap the layer calls of ``run_validation`` for one ``with`` block."""
    import anzlic_validator_spark.run as run_mod
    from anzlic_validator_spark.manifest import Manifest

    patches = [
        (run_mod, "input_snapshots_per_bucket", "manifest.snapshot", False, None),
        (run_mod, "validate", "engine.validate", False, None),
        (run_mod, "dataset_rule_violations", "engine.dataset_rule", False, None),
        (Manifest, "pending_buckets", "manifest.pending", False, None),
        (Manifest, "record_run", "manifest.record", False, None),
        (DataFrameWriter, "parquet", None, True, _write_name),
        (DataFrame, "collect", "action.collect", True, None),
        (DataFrame, "count", "action.count", True, None),
    ]
    saved = []
    for owner, attr, name, group, name_of in patches:
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, _wrap(tracer, orig, name, group, name_of))
    # Manifest.load is a classmethod: wrap the underlying function
    orig_load = Manifest.__dict__["load"]
    saved.append((Manifest, "load", orig_load))
    Manifest.load = classmethod(_wrap(tracer, orig_load.__func__, "manifest.load"))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
