"""Span tracer for the traced benchmark run.

Wraps public calls of the engine's layers at install time, from the
benchmark's own files; the engine itself is untouched. Spans carry
(name, start, end, parent, thread, run id) and stay in memory until the
run ends. A span's parent is the innermost open span on its own thread,
or, on a thread with none open (Spark's ``foreachBatch`` callback
thread, copy-pool workers), the innermost open span on the main thread:
the call that blocks waiting for it.

Self time is a span's duration minus the part of it its children cover.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.progress: list[dict] = []   # StreamingQuery progress durations
        self.cycle_jobs: list[int] = []  # Spark jobs started per cycle
        self.active = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int | None:
        if not self.active:
            return None
        st = self._stack()
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append({
                "name": name, "start": time.monotonic(), "end": None,
                "parent": parent, "main": threading.current_thread() is self._main,
                "run": self.run_id})
        st.append(idx)
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx]["end"] = time.monotonic()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.active:
            with self._lock:
                self.counts[name] += n

    # -- wrapping ---------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanned call; ``on_result(self,
        args, result)`` records counters after the call returns."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.end(idx)
            if on_result is not None and tracer.active:
                on_result(tracer, args, result)
            return result

        setattr(owner, attr, spanned)

    def wrap_generator(self, owner, attr: str, name: str, on_item=None) -> None:
        """Span every ``next()`` of a generator-returning call: the busy
        time of a consumer-driven producer, excluding the consumer's work
        between items."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            it = fn(*args, **kwargs)
            while True:
                idx = tracer.begin(name)
                try:
                    item = next(it)
                except StopIteration:
                    return
                finally:
                    tracer.end(idx)
                if on_item is not None and tracer.active:
                    on_item(tracer, item)
                yield item

        setattr(owner, attr, spanned)

    def reset(self) -> None:
        self.spans.clear()
        self.counts.clear()
        self.progress.clear()
        self.cycle_jobs.clear()
        self._main_stack.clear()

    # -- aggregation ------------------------------------------------------
    def self_times(self) -> dict[str, dict]:
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        agg: dict[str, dict] = defaultdict(lambda: {"n": 0, "busy_s": 0.0, "self_s": 0.0,
                                                    "off_main_s": 0.0})
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(i, ())):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            a = agg[s["name"]]
            a["n"] += 1
            a["busy_s"] += dur
            a["self_s"] += dur - covered
            if not s["main"]:
                a["off_main_s"] += dur
        return dict(agg)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "counts": self.counts, "progress": self.progress,
                       "cycle_jobs": self.cycle_jobs}, f)


def _progress_durations(query) -> list[dict]:
    out = []
    for p in query.recentProgress or ():
        d = p.durationMs if hasattr(p, "durationMs") else p.get("durationMs", {})
        out.append(dict(d or {}))
    return out


def install(tracer: Tracer, spark) -> None:
    """Wrap the engine's public layer calls."""
    from etl_spark import state
    from etl_spark.replicator import Replicator
    from etl_spark.sources import live, pgoutput, socket_transport
    from etl_spark.streaming import pipeline, sinks

    sc = spark.sparkContext

    def frames(t, _args, result):
        t.count("socket_transport.poll_frames.frames", len(result))

    def copy_bytes(t, batch):
        t.count("socket_transport.copy_out.bytes", sum(len(b) + 1 for b in batch))

    def shipped(t, _args, n):
        if n:
            t.count("live.pump.files")

    tracer.wrap(socket_transport.SocketReplicationSource, "poll_frames",
                "socket_transport.poll_frames", frames)
    tracer.wrap_generator(socket_transport.SocketReplicationSource, "copy_out",
                          "socket_transport.copy_out", copy_bytes)
    tracer.wrap(live.FrameFilePump, "drain_once", "live.pump.drain_once", shipped)
    tracer.wrap(live.FrameFilePump, "report_progress", "live.pump.report_progress")
    tracer.wrap(pgoutput, "collect_wire_stats", "pgoutput.collect_wire_stats")
    tracer.wrap(pipeline.Pipeline, "backfill", "pipeline.backfill")
    tracer.wrap(sinks.ParquetCurrentStateSink, "write_changes",
                "sinks.current_state.write_changes")
    tracer.wrap(sinks.ParquetChangelogSink, "write_changes",
                "sinks.changelog.write_changes")
    for cls in (sinks.ParquetCurrentStateSink, sinks.ParquetChangelogSink):
        tracer.wrap(cls, "write_snapshot", "sinks.write_snapshot")
    tracer.wrap(sinks.TableRoutingSink, "apply_schema_change",
                "sinks.apply_schema_change")
    for attr in ("transition", "advance_flush_lsn"):
        tracer.wrap(state.ControlStore, attr, f"state.{attr}",
                    lambda t, _a, _r: t.count("state.durable_writes"))
    tracer.wrap(Replicator, "initial_sync", "replicator.initial_sync")

    run_until_drained = pipeline.Pipeline.run_until_drained

    @functools.wraps(run_until_drained)
    def cycle(self, *args, **kwargs):
        idx = tracer.begin("pipeline.run_until_drained")
        try:
            return run_until_drained(self, *args, **kwargs)
        finally:
            tracer.end(idx)
            if idx is not None and self.query is not None:
                # a streaming query runs its jobs in a job group named
                # after its run id; each cycle starts a fresh run
                tracer.cycle_jobs.append(len(
                    sc.statusTracker().getJobIdsForGroup(str(self.query.runId))))
                tracer.progress.extend(_progress_durations(self.query))

    pipeline.Pipeline.run_until_drained = cycle


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """The per-layer metrics of one traced run."""
    st = tracer.self_times()

    def busy(name: str) -> float:
        return st.get(name, {}).get("busy_s", 0.0)

    def off_main(name: str) -> float:
        return st.get(name, {}).get("off_main_s", 0.0)

    batches = [p for p in tracer.progress if "addBatch" in p]
    trig = {k: sum(p.get(k, 0) for p in batches) / 1000.0
            for k in ("addBatch", "latestOffset", "walCommit", "commitOffsets")}
    inside_batch = (off_main("pgoutput.collect_wire_stats")
                    + off_main("sinks.current_state.write_changes")
                    + off_main("sinks.changelog.write_changes")
                    + off_main("sinks.apply_schema_change")
                    + off_main("state.transition")
                    + off_main("state.advance_flush_lsn"))
    c = tracer.counts
    return {
        "socket_transport.poll_frames.busy_s": busy("socket_transport.poll_frames"),
        "socket_transport.poll_frames.frames": c["socket_transport.poll_frames.frames"],
        "socket_transport.copy_out.busy_s": busy("socket_transport.copy_out"),
        "socket_transport.copy_out.bytes": c["socket_transport.copy_out.bytes"],
        "live.pump.drain_once.busy_s": busy("live.pump.drain_once"),
        "live.pump.ship_s": busy("live.pump.drain_once") - busy("socket_transport.poll_frames"),
        "live.pump.files": c["live.pump.files"],
        "pipeline.cycles": float(st.get("pipeline.run_until_drained", {}).get("n", 0)),
        "pipeline.cycle_overhead_s": busy("pipeline.run_until_drained") - trig["addBatch"],
        "pipeline.backfill.busy_s": busy("pipeline.backfill"),
        "pipeline.trigger.addBatch_s": trig["addBatch"],
        "pipeline.trigger.latestOffset_s": trig["latestOffset"],
        "pipeline.trigger.walCommit_s": trig["walCommit"],
        "pipeline.trigger.commitOffsets_s": trig["commitOffsets"],
        "pipeline.spark_jobs_per_batch": (sum(tracer.cycle_jobs) / len(batches)
                                          if batches else 0.0),
        "pipeline.apply_self_s": trig["addBatch"] - inside_batch,
        "pgoutput.collect_wire_stats.busy_s": busy("pgoutput.collect_wire_stats"),
        "sinks.current_state.write_changes.busy_s": busy("sinks.current_state.write_changes"),
        "sinks.changelog.write_changes.busy_s": busy("sinks.changelog.write_changes"),
        "sinks.write_snapshot.busy_s": busy("sinks.write_snapshot"),
        "sinks.apply_schema_change.busy_s": busy("sinks.apply_schema_change"),
        "state.durable_writes": c["state.durable_writes"],
        "replicator.initial_sync.busy_s": busy("replicator.initial_sync"),
    }
