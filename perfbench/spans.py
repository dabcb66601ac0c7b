"""Spans around the engine's public calls, and Spark job/stage metrics per
layer, read after the run from the status store.

Nothing here touches engine code. A traced call gets its own Spark job
group; after the run every job of that group is assigned to a layer by its
call site (``collect at …/lake.py:233``), resolved to the enclosing
function of the engine source with ``ast``, so a line that moves inside
its function keeps its layer. DataFrame writes report a JVM call site, so
the traced run wraps ``DataFrameWriter.parquet`` to set the Python call
site the same way pyspark does for ``collect``; so does
``DataFrameReader.parquet``, whose file listing runs as a job when a read
names many directories.
"""

from __future__ import annotations

import ast
import json
import os
import re
import statistics
import time
import traceback
from contextlib import contextmanager
from functools import lru_cache

# (file suffix, enclosing function) -> layer. Anything else is unattributed.
LAYERS = {
    ("nifi_nlp_processor_spark/lake.py", "probe_batch"): "probe",
    ("nifi_nlp_processor_spark/lake.py", "probe_epochs"): "probe",
    ("nifi_nlp_processor_spark/lake.py", "merge_into"): "merge",
    ("nifi_nlp_processor_spark/lake.py", "_collect_part_stats"): "merge",
    ("nifi_nlp_processor_spark/lake.py", "compact"): "compact",
    ("nifi_nlp_processor_spark/lake.py", "read_raw"): "read",
    ("nifi_nlp_processor_spark/runner.py", "apply_epoch"): "quarantine",
    ("nifi_nlp_processor_spark/runner.py", "apply_epochs"): "runner",
    ("nifi_nlp_processor_spark/runner.py", "_prefetch_probe"): "probe",
    ("perfbench/workloads.py", "force"): "read",
    ("perfbench/workloads.py", "timed_read"): "read",
}

_SITE = re.compile(r"^\S+ at (.+):(\d+)$")


@lru_cache(maxsize=None)
def _functions(path: str) -> tuple:
    """(start, end, name) of every function in a source file, innermost
    last when nested."""
    try:
        with open(path) as fh:
            tree = ast.parse(fh.read())
    except (OSError, SyntaxError):
        return ()
    out = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out.append((node.lineno, node.end_lineno, node.name))
    return tuple(sorted(out))


def enclosing_function(path: str, line: int) -> str | None:
    best = None
    for lo, hi, name in _functions(path):
        if lo <= line <= hi and (best is None or lo >= best[0]):
            best = (lo, name)
    return best[1] if best else None


def _mapped(path: str, func: str) -> str | None:
    norm = path.replace(os.sep, "/")
    for (suffix, name), layer in LAYERS.items():
        if name == func and norm.endswith(suffix):
            return layer
    return None


def layer_of(call_site: str) -> str | None:
    """Layer of a Spark job from its call site, or None."""
    m = _SITE.match(call_site or "")
    if not m:
        return None
    path, line = m.group(1), int(m.group(2))
    func = enclosing_function(path, line)
    return _mapped(path, func) if func else None


def _python_call_site(verb: str) -> str:
    """``<verb> at <file>:<line>`` of the innermost frame outside pyspark
    and this module whose function maps to a layer, else of the innermost
    such frame (pyspark's own rule for ``collect``). Engine helpers such as
    a shared file reader then count for the layer that called them."""
    here = os.path.abspath(__file__)
    frames = [
        fr for fr in traceback.extract_stack()[:-2]
        if "pyspark" not in fr.filename and os.path.abspath(fr.filename) != here
    ]
    for fr in reversed(frames):
        if _mapped(fr.filename, fr.name):
            return f"{verb} at {fr.filename}:{fr.lineno}"
    if frames:
        return f"{verb} at {frames[-1].filename}:{frames[-1].lineno}"
    return f"{verb} at <unknown>:0"


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory. ``on``
    also tags Spark jobs with the span's job group and sets Python call
    sites on DataFrame writes; with it off, spans still time the calls."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.on = False
        self._orig_parquet = None

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        if self._orig_parquet is not None:
            return
        self._orig_parquet = {cls: cls.parquet for cls in (DataFrameReader, DataFrameWriter)}
        for cls, orig in self._orig_parquet.items():
            cls.parquet = self._with_call_site(orig)

    def _with_call_site(self, orig):
        tracer = self

        def parquet(obj, *a, **k):
            if not tracer.on:
                return orig(obj, *a, **k)
            jsc = tracer.sc._jsc
            jsc.setCallSite(_python_call_site("parquet"))
            try:
                return orig(obj, *a, **k)
            finally:
                jsc.setCallSite(None)

        return parquet

    def uninstall(self) -> None:
        if self._orig_parquet is not None:
            for cls, orig in self._orig_parquet.items():
                cls.parquet = orig
            self._orig_parquet = None

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        rec = {
            "id": len(self.spans), "name": name, "parent": parent,
            "run": self.run_id, "traced": self.on, "start": time.time(), **attrs,
        }
        self.spans.append(rec)
        if self.on:
            self.sc.setJobGroup(f"pb-{self.run_id}-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if self.on:
                self.sc._jsc.clearJobGroup()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _opt(o):
    return o.get() if o.isDefined() else None


def collect_jobs(spark) -> list[dict]:
    """Every job and its stages' metrics from the status store (works with
    spark.ui.enabled=false). Times in seconds, bytes in MB."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = {}
    seq = store.stageList(None, False, False, quantiles, None)
    for i in range(seq.length()):
        s = seq.apply(i)
        if str(s.status()) == "SKIPPED":
            continue
        stages[(s.stageId(), s.attemptId())] = {
            "stage": s.stageId(), "attempt": s.attemptId(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "input_mb": s.inputBytes() / 1e6,
            "shuffle_mb": s.shuffleWriteBytes() / 1e6,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
            "tasks": s.numTasks(),
            "failed_tasks": s.numFailedTasks(),
        }
    by_stage: dict[int, list[dict]] = {}
    for st in stages.values():
        by_stage.setdefault(st["stage"], []).append(st)
    jobs = []
    seq = store.jobsList(None)
    for i in range(seq.length()):
        j = seq.apply(i)
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None or done is None:
            continue
        ids = j.stageIds()
        st = [x for k in range(ids.length()) for x in by_stage.get(ids.apply(k), [])]
        jobs.append(
            {
                "job": j.jobId(), "group": _opt(j.jobGroup()), "site": j.name(),
                "start": sub.getTime() / 1e3, "end": done.getTime() / 1e3,
                "stages": st,
            }
        )
    jobs.sort(key=lambda x: x["job"])
    return jobs


def task_skew(spark, stage: dict) -> float:
    """max ÷ median task duration of one stage attempt."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.taskList(stage["stage"], stage["attempt"], 100_000)
    d = []
    for i in range(seq.length()):
        dur = _opt(seq.apply(i).duration())
        if dur is not None:
            d.append(float(dur))
    if not d or statistics.median(d) <= 0:
        return 1.0
    return max(d) / statistics.median(d)


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def attribute(span: dict, jobs: list[dict]) -> dict:
    """Split one traced call's wall into per-layer job time, the driver's
    own time (wall minus the union of the call's job intervals) and
    unattributed job time. Job intervals are clipped to the span, so the
    parts add up to the wall whenever jobs of different layers do not run
    at the same time (``overlap_s`` records it when they do)."""
    lo, hi = span["start"], span["end"]
    wall = hi - lo
    group = f"pb-{span['run']}-{span['id']}"
    mine = [j for j in jobs if j["group"] == group]
    per: dict[str | None, list] = {}
    for j in mine:
        a, b = max(lo, j["start"]), min(hi, j["end"])
        if b > a:
            per.setdefault(layer_of(j["site"]), []).append((a, b))
    all_iv = [iv for ivs in per.values() for iv in ivs]
    jobs_s = union_s(all_iv)
    layers = {k: union_s(v) for k, v in per.items() if k is not None}
    unattributed = union_s(per.get(None, []))
    return {
        "wall_s": wall,
        "layers": layers,
        "driver_s": wall - jobs_s,
        "unattributed_s": unattributed,
        "overlap_s": sum(layers.values()) + unattributed - jobs_s,
        "jobs": [j["job"] for j in mine],
        "unattributed_sites": sorted({j["site"] for j in mine if layer_of(j["site"]) is None}),
    }
