"""Spans around the program's layer calls, with Spark counters per span.

The tracer lives entirely in the benchmark: it replaces module attributes
the program looks up at call time with thin wrappers, and restores them
on :meth:`Tracer.uninstall`. Nothing under ``i3dm_export_spark/`` is
edited. Wrapped entry points:

* ``plans.pipeline.run_export``, ``plans.incremental.incremental_append``
  and ``plans.serve.query_bbox_summary`` — one span per operation;
* ``plans.checkpoint.CheckpointManager.run_stage`` — one span per stage,
  with the stage's done-marker ``wall_ms`` and ``n_bytes``;
* ``plans.sinks.write_binary_files`` — one span per sink call, with the
  files and bytes it wrote;
* ``plans.serve.tiles_in_bbox`` / ``instances_in_bbox`` — *tail* spans:
  both return lazy frames that the caller forces afterwards, so each
  stays open until the next tail span or its parent closes.

Each span sets a Spark job group; at the end the job ids of every group
come from ``statusTracker`` and per-stage counters (input rows, shuffle
write bytes, executor run time, JVM GC time) from the AppStatusStore, so
a lazily built frame's work lands on the span of the action that forced
it. Spans stay in memory and are written once, by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

COUNTERS = ("jobs", "input_rows", "shuffle_write_bytes", "executor_run_s",
            "gc_s")


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._t0 = time.perf_counter()
        #: wall spent in the tracer's own bookkeeping while spans were open
        self.bookkeeping_s = 0.0

    # -- spans -------------------------------------------------------------
    def _open(self, name: str, tail: bool = False) -> dict:
        tb = time.perf_counter()
        if tail:
            while self._stack and self._stack[-1]["tail"]:
                self._finish(self._stack[-1])
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans) + 1, "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id, "tail": tail, "attrs": {},
        }
        span["group"] = f"{self.run_id}.{span['id']}"
        self.spans.append(span)
        self._stack.append(span)
        self._sc.setJobGroup(span["group"], name)
        self.bookkeeping_s += time.perf_counter() - tb
        span["start"] = time.perf_counter() - self._t0
        return span

    def _finish(self, span: dict) -> None:
        span["end"] = time.perf_counter() - self._t0
        tb = time.perf_counter()
        span["job_ids"] = sorted(
            self._sc.statusTracker().getJobIdsForGroup(span["group"])
        )
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self._sc.setJobGroup(top["group"], top["name"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        self.bookkeeping_s += time.perf_counter() - tb

    def _close(self, span: dict) -> None:
        while self._stack and self._stack[-1] is not span:
            self._finish(self._stack[-1])  # open tail children
        self._finish(span)

    @contextlib.contextmanager
    def span(self, name: str):
        span = self._open(name)
        try:
            yield span
        finally:
            self._close(span)

    # -- wrappers ----------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def _spanned(self, name: str, after=None):
        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name) as span:
                    out = orig(*args, **kwargs)
                if after is not None:
                    tb = time.perf_counter()
                    after(span, out, *args, **kwargs)
                    self.bookkeeping_s += time.perf_counter() - tb
                return out
            return wrapper
        return make

    def _tail(self, name: str):
        def make(orig):
            def wrapper(*args, **kwargs):
                self._open(name, tail=True)
                return orig(*args, **kwargs)
            return wrapper
        return make

    def install(self) -> None:
        from i3dm_export_spark.plans import (
            checkpoint, incremental, pipeline, serve, sinks,
        )

        def stage_done(span, _out, mgr, stage, *_a, **_k):
            with open(mgr._done_marker(stage)) as f:
                marker = json.load(f)
            span["attrs"].update(stage=stage,
                                 marker_wall_s=marker["wall_ms"] / 1000.0,
                                 n_bytes=marker["n_bytes"])

        def sink_done(span, n_files, _files, root_dir, manifest_path=None):
            span["attrs"].update(sink=os.path.basename(root_dir.rstrip("/")),
                                 files=int(n_files),
                                 bytes=_manifest_bytes(manifest_path))

        self._patch(pipeline, "run_export", self._spanned("pipeline.run_export"))
        self._patch(incremental, "incremental_append",
                    self._spanned("incremental.incremental_append"))
        self._patch(serve, "query_bbox_summary",
                    self._spanned("serve.query_bbox_summary"))
        self._patch(checkpoint.CheckpointManager, "run_stage",
                    self._spanned("checkpoint.run_stage", stage_done))
        self._patch(sinks, "write_binary_files",
                    self._spanned("sinks.write_binary_files", sink_done))
        self._patch(serve, "tiles_in_bbox", self._tail("serve.tiles"))
        self._patch(serve, "instances_in_bbox", self._tail("serve.instances"))
        self.first_job = max(self._job_ids(), default=-1) + 1

    def uninstall(self) -> None:
        self.end_job = max(self._job_ids(), default=-1) + 1
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- counters ----------------------------------------------------------
    def _job_ids(self) -> list[int]:
        """Every job id the status store knows, grouped or not."""
        sc = self._sc
        it = sc._jsc.sc().statusStore().jobsList(
            sc._jvm.java.util.ArrayList()).iterator()
        out = []
        while it.hasNext():
            out.append(it.next().jobId())
        return out

    def unattributed_jobs(self) -> list[int]:
        """Jobs started between :meth:`install` and :meth:`uninstall`
        that no span's job group holds: work the spans did not see."""
        seen = {j for s in self.spans for j in s.get("job_ids", [])}
        return [j for j in range(self.first_job, self.end_job)
                if j not in seen]

    def attach_counters(self) -> None:
        """Per-span self counters from the status store. A stage id shows
        up in every later job that reuses (skips) it; it is charged once,
        to the first job that lists it."""
        sc = self._sc
        jvm = sc._jvm
        stages = sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        it = stages.iterator()
        per_stage: dict[int, list[float]] = {}
        while it.hasNext():
            st = it.next()
            acc = per_stage.setdefault(st.stageId(), [0, 0, 0.0, 0.0])
            acc[0] += st.inputRecords()
            acc[1] += st.shuffleWriteBytes()
            acc[2] += st.executorRunTime() / 1000.0
            acc[3] += st.jvmGcTime() / 1000.0
        owner = {j: s for s in self.spans for j in s.get("job_ids", [])}
        for s in self.spans:
            s["self"] = dict.fromkeys(COUNTERS, 0)
            s["self"]["jobs"] = len(s.get("job_ids", []))
        tracker = sc.statusTracker()
        charged: set[int] = set()
        for jid in sorted(owner):
            info = tracker.getJobInfo(jid)
            c = owner[jid]["self"]
            for sid in (info.stageIds if info is not None else []):
                if sid in charged or sid not in per_stage:
                    continue
                charged.add(sid)
                rows, shuf, run_s, gc_s = per_stage[sid]
                c["input_rows"] += rows
                c["shuffle_write_bytes"] += shuf
                c["executor_run_s"] += run_s
                c["gc_s"] += gc_s

    def dump(self, path: str, **meta) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **meta, "spans": self.spans}, f)


# -- span-tree queries (pure functions over the recorded spans) -------------
def children(spans: list[dict], span: dict) -> list[dict]:
    return [s for s in spans if s["parent"] == span["id"]]


def descendants(spans: list[dict], span: dict) -> list[dict]:
    out, todo = [], [span]
    while todo:
        kids = children(spans, todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def wall(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(spans: list[dict], span: dict) -> float:
    """Duration minus the part of it covered by child spans."""
    ivs = sorted((c["start"], c["end"]) for c in children(spans, span))
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return wall(span) - covered


def inclusive(spans: list[dict], span: dict, counter: str) -> float:
    return span["self"][counter] + sum(
        d["self"][counter] for d in descendants(spans, span)
    )


def _manifest_bytes(manifest_path: str | None) -> int:
    if not manifest_path or not os.path.isdir(manifest_path):
        return 0
    import pyarrow.parquet as pq

    return int(pq.read_table(manifest_path, columns=["n_bytes"])
               .column("n_bytes").to_numpy().sum())
