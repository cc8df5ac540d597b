"""Span recorder for the traced run.

A span is (name, start, end, parent, request id) plus the Spark jobs,
stages and tasks that ran inside it and the change in the pinned
registry's counters. Spans are kept in memory and written out once, at
the end of the run.

Spark work is attributed through job groups: entering a span puts the
calling thread in a job group of its own, leaving it restores the
parent's, so each job lands in the innermost open span. ``resolve`` then
reads job -> stage -> task counts from the ``StatusTracker``; it is called
between operations, outside every timed section, so its cost does not
show in the latencies.

``install_wrappers`` puts spans around the public calls that run inside
an ingest batch (table merges, the incremental index upsert, the archive
write); the benchmark opens the request-level spans itself.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._unresolved: list[int] = []

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
            pinned,
        )

        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "request": request,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._unresolved.append(sid)
        before = pinned.stats()
        self._stack.append(sid)
        self.sc.setLocalProperty(_GROUP_KEY, f"perfbench-{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                _GROUP_KEY, f"perfbench-{parent}" if parent is not None else None
            )
            after = pinned.stats()
            rec["pinned"] = {k: after[k] - before[k] for k in after}

    def resolve(self) -> None:
        """Attach job/stage/task counts to every span closed since the
        last call. Waits for the listener bus so the tracker has seen
        every finished task."""
        if not self.enabled or not self._unresolved:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for sid in self._unresolved:
            jobs = tracker.getJobIdsForGroup(f"perfbench-{sid}")
            stages = tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for st in info.stageIds:
                    sinfo = tracker.getStageInfo(st)
                    if sinfo is not None and sinfo.numCompletedTasks > 0:
                        stages += 1
                        tasks += sinfo.numCompletedTasks
            self.spans[sid].update(jobs=len(jobs), stages=stages, tasks=tasks)
        self._unresolved.clear()

    # -- queries over recorded spans -------------------------------------
    def inclusive(self, sid: int, key: str) -> int:
        """``key`` (jobs / stages / tasks) summed over a span and all of
        its descendants."""
        total = self.spans[sid].get(key, 0)
        for s in self.spans:
            if s["parent"] == sid:
                total += self.inclusive(s["id"], key)
        return total

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _wrap_method(cls, attr: str, tracer: Tracer, name: str) -> None:
    orig = getattr(cls, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return orig(*args, **kwargs)

    setattr(cls, attr, wrapper)


def install_wrappers(tracer: Tracer) -> None:
    """Spans around the layer calls made inside ``process_batch``."""
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.search import (
        incremental,
    )
    from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark.streaming import (
        ingest,
        table,
    )

    _wrap_method(table.KeyedParquetTable, "merge", tracer, "streaming.table.keyed_merge")
    _wrap_method(table.GroupedParquetTable, "merge", tracer, "streaming.table.grouped_merge")
    _wrap_method(
        incremental.IncrementalIndexer, "upsert", tracer, "search.incremental.upsert"
    )
    _wrap_method(ingest, "write_archive", tracer, "streaming.ingest.archive")
