"""Spans and counts around the benchmark's calls into each layer.

A span times one call into one layer and tags the Spark jobs it starts
with ``sc.setJobGroup``; when it closes, the jobs, stages and tasks of
that group are read back from ``sc.statusTracker()`` (which works with
the UI off). Spans and counts stay in memory; ``write`` puts them in
one JSON file when the run ends.

With tracing off every method is a no-op, so the end-to-end runs pay
nothing for it. With tracing on, ``materialize`` persists and counts a
layer's output at its boundary, so each span covers only its own layer.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager, nullcontext

from pyspark import StorageLevel

SPANS = [
    "extract",
    "spatial_join.plan",
    "spatial_join.exec",
    "lineage.write",
    "lineage.resume",
    "lineage.verify",
    "tiling.burn",
    "tiling.pyramid",
    "tiling.checksum",
    "png.encode",
    "pmtiles.sink",
]
SPAN_FIELDS = ["jobs", "stages", "tasks", "failed_tasks"]

# name → unit for the counts a workload records at span boundaries
COUNTS = {
    "extract.rows_out": "count",
    "cover.cells": "count",
    "spatial_join.candidates": "count",
    "spatial_join.full_frac": "frac",
    "spatial_join.pip_yield": "frac",
    "spatial_join.rows_out": "count",
    "lineage.bytes_written": "bytes",
    "lineage.bytes_per_row": "bytes/row",
    "lineage.buckets_skipped": "count",
    "tiling.base_tiles": "count",
    "tiling.tiles_total": "count",
    "png.bytes_out": "bytes",
    "pmtiles.bytes_written": "bytes",
}
OUTSIDE_GROUP = "perfbench.outside"


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.iteration = 0
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._persisted: list = []

    def span(self, name: str):
        if not self.enabled:
            return nullcontext()
        return self._span(name)

    @contextmanager
    def _span(self, name: str):
        group = f"{name}#{self.iteration}"
        self.sc.setJobGroup(group, name)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            seconds = time.perf_counter() - t0
            self.sc.setJobGroup(OUTSIDE_GROUP, "between spans")
            self.spans.append(
                {"name": name, "iteration": self.iteration, "start": start,
                 "s": seconds, **self._job_counts(group)}
            )

    def _job_counts(self, group: str) -> dict:
        # status updates arrive through the listener bus; drain it so
        # the tracker has seen the end of every task of the group
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = failed = 0
        for s in stage_ids:
            info = st.getStageInfo(s)
            # a stage whose shuffle output is reused shows as skipped:
            # it lists tasks but never runs one
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue
            stages += 1
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def materialize(self, df, count_name: str | None = None):
        """Persist and count ``df`` when tracing; else return it as is."""
        if not self.enabled:
            return df
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(df)
        n = df.count()
        if count_name:
            self.count(count_name, n)
        return df

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = value

    def end_iteration(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        self.iteration += 1

    def metrics(self) -> dict[str, float]:
        """Per span: median seconds over the traced iterations, and the
        job counts of the last one. Spans and counts the workload never
        reached read 0."""
        out: dict[str, float] = {}
        for name in SPANS:
            recs = [r for r in self.spans if r["name"] == name]
            out[f"{name}.s"] = (
                statistics.median(r["s"] for r in recs) if recs else 0.0
            )
            for field in SPAN_FIELDS:
                out[f"{name}.{field}"] = recs[-1][field] if recs else 0
        for name in COUNTS:
            out[name] = self.counts.get(name, 0)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts, **extra},
                      f, indent=1)
