"""Traced-run instrumentation, recorded entirely from outside the engine.

* Spans: the engine's public entry points are wrapped by replacing the
  module attributes the callers resolve (``service``'s module-level
  imports and the call-time imports in ``wand``, ``positional``,
  ``boolquery``, ``fuzzy`` and ``operators.search``). Each span keeps
  name, start, end, parent and request id, in memory, and the list is
  written out when the run ends.
* Entry points that return a lazy DataFrame which the caller
  immediately collects get a thin proxy whose ``collect()`` is a second
  span of the same layer, so execution time is attributed too.
* Spark: every traced operation runs under its own job group; job,
  stage and task counts come from ``statusTracker()``. Shuffle and
  spill come from the status store's ``stageList`` (all five arguments
  passed, as py4j cannot fill Scala defaults) over the stage-id window
  of the operation.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

# layer → [(module, attribute, collected lazily by the caller)]
ENTRY_POINTS = {
    "analysis": [
        ("searchengine_spark.operators.search", "lemmatize_query", False),
        ("searchengine_spark.operators.search", "parse_boosted_query", False),
    ],
    "wand": [
        ("searchengine_spark.service", "search_packed_fused", False),
        ("searchengine_spark.service", "search_packed_metrics", True),
        ("searchengine_spark.index.wand", "search_packed", True),
        ("searchengine_spark.index.wand", "match_count_packed", False),
        ("searchengine_spark.index.wand", "facet_counts_packed", True),
    ],
    "positional": [
        ("searchengine_spark.index.positional",
         "phrase_search_packed_topk_count", True),
        ("searchengine_spark.index.positional",
         "build_positional_segments", False),
        ("searchengine_spark.index.positional",
         "write_positional_segments", False),
    ],
    "boolquery": [
        ("searchengine_spark.operators.boolquery",
         "bool_search_packed_fused", False),
    ],
    "fuzzy": [
        ("searchengine_spark.operators.fuzzy", "suggest_terms", True),
    ],
    "postings": [
        ("searchengine_spark.operators.postings", "materialize_index", False),
    ],
    "segments": [
        ("searchengine_spark.service", "write_delta_run", False),
        ("searchengine_spark.service", "write_tombstones", False),
        ("searchengine_spark.index.segments", "build_segments", False),
        ("searchengine_spark.index.segments", "write_segments", False),
    ],
    "refresh": [
        ("searchengine_spark.index.refresh", "refresh_and_repack", False),
    ],
}


class _Collected:
    """Lazy-frame proxy: ``collect()`` runs inside a span of the layer."""

    def __init__(self, df, tracer: "Tracer", name: str):
        self._df, self._tracer, self._name = df, tracer, name

    def collect(self):
        with self._tracer.span(self._name + ":collect"):
            return self._df.collect()

    def __getattr__(self, attr):
        return getattr(self._df, attr)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[list] = []  # [name, start, end, parent, req]
        self._stack: list[int] = []
        self.req: int | None = None
        self.on = False

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None, self.req]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def install(self) -> None:
        import importlib

        for layer, points in ENTRY_POINTS.items():
            for modname, attr, lazy in points:
                mod = importlib.import_module(modname)
                setattr(mod, attr, self._wrap(getattr(mod, attr),
                                              f"{layer}.{attr}", lazy))

    def _wrap(self, fn, name: str, lazy: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            return _Collected(out, tracer, name) if lazy else out

        return wrapper

    def request_spans(self, req: int) -> list[list]:
        return [s for s in self.spans if s[4] == req]

    def dump(self, path: str) -> None:
        keys = ("name", "start", "end", "parent", "req")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(keys, s))) + "\n")

    # -- spark accounting ----------------------------------------------------

    def job_group(self, gid: str, desc: str) -> None:
        self.spark.sparkContext.setJobGroup(gid, desc)

    def group_counts(self, gid: str) -> dict:
        """jobs / stages run / tasks run / tasks failed under a group."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped (reused exchange) or unknown
                stages += 1
                tasks += s.numCompletedTasks
                failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed": failed}

    def _stage_list(self):
        jvm = self.spark.sparkContext._jvm
        gw = self.spark.sparkContext._gateway
        store = self.spark.sparkContext._jsc.sc().statusStore()
        return store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )

    def last_stage_id(self) -> int:
        stages = self._stage_list()
        return max(
            (stages.apply(i).stageId() for i in range(stages.size())),
            default=-1,
        )

    def stage_io(self, after_stage: int) -> dict:
        """Shuffle bytes, spill bytes and failed tasks of every stage
        submitted after ``after_stage``."""
        stages = self._stage_list()
        out = {"shuffle_bytes": 0, "spill_bytes": 0, "failed_tasks": 0}
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= after_stage:
                continue
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["failed_tasks"] += s.numFailedTasks()
        return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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


def layer_seconds(spans: list[list], layer: str) -> float:
    return union_seconds(
        [(s[1], s[2]) for s in spans if s[0].split(".", 1)[0] == layer]
    )
