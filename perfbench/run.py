#!/usr/bin/env python3
"""Replication benchmark: backlog catch-up, paced-source lag, initial copy.

Usage (from the repository root)::

    python3 perfbench/run.py --workload catchup_then_trickle --seed 1 \\
        --seconds 10 --trace 0

``--workload`` takes ``catchup_then_trickle``, ``initial_copy`` or both,
comma-separated. Each workload prints its metrics by name with their
units; the last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}`` (``--trace 0``: the end-to-end metrics of the last
workload named; ``--trace 1``: its per-layer metrics). A line per
workload also shows the timings behind its throughput: the time and row
events of each backlog cycle, or each timed copy's wall time.

A load generator runs in its own process (``generator.py``) and speaks
the Postgres replication protocol on a loopback socket; ``--seed`` fixes
its bytes and ``--seconds`` scales the load. The engine path under test
is ``SocketReplicationSource`` -> ``FrameFilePump.run_live`` ->
``Pipeline(source_fmt="pgoutput")`` -> ``TableRoutingSink`` over two
``ParquetCurrentStateSink`` tables and one ``ParquetChangelogSink``
table; for the copy it is ``Replicator.initial_sync`` -> the sink's
``write_snapshot``. Every run's destination is compared with a pure
Python fold of the generated operations (``workloads.fold``).

End-to-end metrics, the same names on both workloads:

- ``setup_s``: process start to a warm Spark session and one small pass
  through the workload's path: a cold pipeline draining the set-up
  prefix of the stream up to its flush, or a small copy.
- ``rows_per_s``: source rows made durable per second. Stream: backlog
  row events / (backlog released -> the flush ack covering its last
  commit), both seen by the generator; the backlog drains in two pump
  batches, one pipeline cycle each. Copy: rows / (``initial_sync`` +
  ``write_snapshot``), the median over the timed copies of the table.
- ``lag_p50_s`` / ``lag_p99_s``: per paced transaction, its due time to
  the arrival of the standby status update whose flush LSN covers its
  commit. A copy lands all rows at once, so both equal its wall time
  (the median over the timed copies).
- ``dest_bytes_per_row``: destination bytes on disk / live rows.
- ``peak_rss_mb``: peak RSS of this process and its children (the JVM
  and Spark's Python workers, not the generator) during the timed phase.

Transactions (rows for the copy) absent or wrong at the destination,
left in an ``Errored`` table, or never acked are counted in ``failed``;
a run with any failure reports ``correct: false`` and exits 1.
"""

from __future__ import annotations

import os
import time

_T_IMPORT = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import uuid  # noqa: E402
from decimal import Decimal  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

WORKLOADS = ("catchup_then_trickle", "initial_copy")
E2E_UNITS = {"setup_s": "s", "rows_per_s": "1/s", "lag_p50_s": "s",
             "lag_p99_s": "s", "dest_bytes_per_row": "B/row", "peak_rss_mb": "MB"}
#: Spark driver memory for a 4-core, 15 GiB machine shared with other jobs
DRIVER_MEM = "3g"
#: a set-up or timed phase longer than this is a failed run (all
#: transactions failed)
SETUP_DEADLINE_S = 70.0
TIMED_DEADLINE_S = 80.0
#: a run still going after this long per workload (a hung socket, a
#: stuck job) is killed with everything it started and exits 4
RUN_LIMIT_S = 170.0
#: a paced run whose generator fell behind its schedule by more than this
#: at p99 is invalid: the offered load was not the one the workload fixes
MAX_GENERATOR_LATE_S = 0.05


def _process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


_T_AT_IMPORT_AGE = _process_age_s() - (time.monotonic() - _T_IMPORT)


def _since_process_start() -> float:
    return _T_AT_IMPORT_AGE + (time.monotonic() - _T_IMPORT)


def pin_environment(run_dir: str) -> None:
    """Everything the session and its workers need, inside the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# --------------------------------------------------------------------------
# Measurement helpers
# --------------------------------------------------------------------------

class RssSampler:
    """Peak resident memory of this process tree, sampled from /proc.

    Spark's Python workers are forked from a daemon and share most of
    their pages with it; they count by PSS (shared pages split between
    the sharers), every other process by RSS, so no page counts twice.
    Processes younger than a second are skipped: the JVM's short-lived
    helper spawns share its address space until they exec."""

    def __init__(self, exclude: int | None = None, interval_s: float = 0.2):
        self.exclude = exclude  # the load generator is not the engine
        self.interval_s = interval_s
        self.armed = False  # only the timed phase counts
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _pss_kb(pid: int) -> int | None:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return None

    def _tree_rss_kb(self) -> int:
        me = os.getpid()
        tick = os.sysconf("SC_CLK_TCK")
        now = time.clock_gettime(time.CLOCK_BOOTTIME)
        parent, rss, python = {}, {}, set()
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    comm, rest = f.read().split(" (", 1)[1].rsplit(")", 1)
            except OSError:
                continue
            fields = rest.split()
            parent[int(d)] = int(fields[1])
            if now - int(fields[19]) / tick < 1.0:
                continue
            rss[int(d)] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE") // 1024
            if comm.startswith("python"):
                python.add(int(d))
        total = 0
        for pid in rss:
            p = pid
            while p and p != me and p != self.exclude:
                p = parent.get(p, 0)
            if p != me:
                continue
            pss = self._pss_kb(pid) if pid in python and pid != me else None
            total += rss[pid] if pss is None else pss
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.armed:
                self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for dp, _dn, fn in os.walk(path):
        for f in fn:
            if f.startswith(".") or f.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(dp, f))
            files += 1
    return total, files


def quantile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]


class GeneratorProcess:
    def __init__(self, workload: str, seed: int, seconds: float):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "generator.py"),
             "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            cwd=ROOT, env={**os.environ, "PYTHONPATH": ROOT})
        self.port = self.final_lsn = self.n_tx = self.n_rows = None
        self.warm_final_lsn = None

    def ready(self) -> None:
        line = self.proc.stdout.readline().split()
        if not line or line[0] != "READY":
            raise RuntimeError(f"generator did not start: {line}")
        (self.port, self.final_lsn, self.n_tx, self.n_rows,
         self.warm_final_lsn) = map(int, line[1:6])

    def stop(self) -> dict:
        try:
            self.proc.stdin.write("STOP\n")
            self.proc.stdin.flush()
        except BrokenPipeError:
            pass
        out, _ = self.proc.communicate(timeout=60)
        for line in out.splitlines():
            if line.startswith("STATS "):
                return json.loads(line[6:])
        raise RuntimeError("generator exited without stats")

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


# --------------------------------------------------------------------------
# Destination readout and the oracle comparison
# --------------------------------------------------------------------------

_CANON = {
    "int": int,
    "num": lambda v: int(Decimal(v).scaleb(4)),
    "ts": lambda v: v.value // 1000,  # pandas Timestamp -> epoch us
    "bool": bool,
    "text": lambda v: v,
}


def read_rows(df, table: str) -> list[tuple]:
    """The destination table as tuples in the oracle's value model."""
    from pyspark.sql import functions as F

    names = W.column_names(table)
    # a column the stream never added (no ADD COLUMN in this workload)
    # reads NULL, as it would in a destination that has not seen the DDL
    pdf = df.select(*(n if n in df.columns else F.lit(None).alias(n)
                      for n in names)).toPandas()
    cols = []
    for name, kind in zip(names, W.column_kinds(table)):
        conv = _CANON[kind]
        na = pdf[name].isna().tolist()
        cols.append([None if n else conv(v)
                     for v, n in zip(pdf[name].tolist(), na)])
    return list(zip(*cols))


def compare_keyed(table: str, expected: dict, actual_rows: list[tuple]) -> set:
    """Keys absent, wrong, duplicated or unexpected at the destination;
    the first few are described on stderr."""
    bad, seen, got = set(), set(), {}
    for row in actual_rows:
        k = row[0]
        if k in seen or expected.get(k) != row:
            bad.add(k)
        seen.add(k)
        got[k] = row
    bad.update(k for k in expected if k not in seen)
    for k in sorted(bad, key=repr)[:3]:
        print(f"mismatch {table} key={k!r}: expected {expected.get(k)!r}, "
              f"got {got.get(k)!r}", file=sys.stderr)
    return bad


# --------------------------------------------------------------------------
# catchup_then_trickle
# --------------------------------------------------------------------------

def _stream_pipeline(spark, work: str):
    from etl_spark.streaming.pipeline import Pipeline, TableConfig
    from etl_spark.streaming.sinks import (
        ParquetChangelogSink,
        ParquetCurrentStateSink,
        TableRoutingSink,
    )

    src_dir = os.path.join(work, "frames")
    os.makedirs(src_dir)
    sink_root = os.path.join(work, "dest")
    changelog = ParquetChangelogSink(os.path.join(sink_root, "changelog"))
    sink = TableRoutingSink({
        W.ACCOUNTS: ParquetCurrentStateSink(
            os.path.join(sink_root, "accounts"), keys=W.KEYS[W.ACCOUNTS], spark=spark),
        W.COUNTERS: ParquetCurrentStateSink(
            os.path.join(sink_root, "counters"), keys=W.KEYS[W.COUNTERS], spark=spark),
        W.EVENTS: changelog,
    })
    cfgs = []
    for table, cols in W.STREAM_TABLES.items():
        snap = os.path.join(work, "snapshot", table)
        spark.createDataFrame([], W.payload_schema(cols)).write.parquet(snap)
        cfgs.append(TableConfig(name=table, snapshot_path=snap,
                                keys=list(W.KEYS[table]),
                                payload_schema=W.payload_schema(cols)))
    pipe = Pipeline(spark, src_dir, cfgs, sink, os.path.join(work, "pipeline"),
                    source_fmt="pgoutput")
    return pipe, sink, changelog, src_dir, sink_root


def run_stream(spark, seed: int, seconds: float, gen, base: str, tracer) -> dict:
    """One live loop from a cold pipeline: the set-up prefix drains first
    (set-up ends at its flush), then the generator releases the backlog,
    then the paced load, and the loop runs until the last commit is
    flushed."""
    from etl_spark.sources import live
    from etl_spark.sources.socket_transport import SocketReplicationSource
    from etl_spark.state import TableState

    pipe, sink, changelog, src_dir, sink_root = _stream_pipeline(spark, base)
    pipe.backfill()
    source = SocketReplicationSource("127.0.0.1", gen.port)
    stop = threading.Event()
    marks: dict[str, float] = {}
    rss = RssSampler(exclude=gen.proc.pid)

    def watch() -> None:
        setup_deadline = time.monotonic() + SETUP_DEADLINE_S
        while not stop.is_set():
            flush = int(pipe.control.flush_lsn)
            now = time.monotonic()
            if "setup" not in marks:
                if flush >= gen.warm_final_lsn:
                    marks["setup"] = now
                    rss.armed = True
                    if tracer is not None:
                        tracer.active = True
                elif now > setup_deadline:
                    stop.set()
            elif flush >= gen.final_lsn:
                marks["done"] = now
                stop.set()
            elif now > marks["setup"] + TIMED_DEADLINE_S:
                stop.set()
            stop.wait(0.01)

    watcher = threading.Thread(target=watch, daemon=True)
    try:
        source.start("main", 0)
        pump = live.FrameFilePump(source, spark, src_dir, control=pipe.control,
                                  batch_bytes=W.STREAM_MAX_BYTES)
        with rss:
            watcher.start()
            pump.run_live(pipe, stop)
    finally:
        stop.set()
        if watcher.is_alive():
            watcher.join()
        if tracer is not None:
            tracer.active = False
        source.close()
    stats = gen.stop()
    if "setup" not in marks:
        raise RuntimeError("the set-up prefix did not drain")
    wall = marks.get("done", time.monotonic()) - marks["setup"]
    setup_s = _T_AT_IMPORT_AGE + (marks["setup"] - _T_IMPORT)

    # -- correctness against the oracle ----------------------------------
    stream = W.streaming_workload(seed, seconds)
    expected = W.fold(stream)
    last_writer: dict[tuple, int] = {}
    event_tx: dict[int, int] = {}
    for i, tx in enumerate(stream.txs):
        for op in tx:
            if op.kind == "R":
                continue
            if op.table == W.EVENTS:
                event_tx[op.new[0]] = i
            else:
                last_writer[(op.table, (op.new or op.key or op.old)[0])] = i
    failed_tx: set[int] = set()
    extra = 0
    for table in (W.ACCOUNTS, W.COUNTERS):
        if pipe.control.get(table).state == TableState.ERRORED:
            failed_tx.update(i for (t, _k), i in last_writer.items() if t == table)
            continue
        for k in compare_keyed(table, expected[table],
                               read_rows(sink.read(table), table)):
            if (table, k) in last_writer:
                failed_tx.add(last_writer[(table, k)])
            else:
                extra += 1
    n_changelog = 0
    if pipe.control.get(W.EVENTS).state == TableState.ERRORED:
        failed_tx.update(event_tx.values())
    else:
        got = read_rows(changelog.read(spark, W.EVENTS), W.EVENTS)
        n_changelog = len(got)
        want: dict[tuple, int] = {}
        for row in expected[W.EVENTS]:
            want[row] = want.get(row, 0) + 1
        for row in got:
            if want.get(row, 0) > 0:
                want[row] -= 1
            elif row[0] in event_tx:
                failed_tx.add(event_tx[row[0]])
            else:
                extra += 1
        missing = [row for row, n in want.items() if n > 0]
        for row in missing[:3]:
            print(f"mismatch {W.EVENTS}: expected row {row!r} absent", file=sys.stderr)
        failed_tx.update(event_tx[row[0]] for row in missing)
    lags = stats.get("lags", [])
    # never acked
    if stats.get("backlog_ack") is None:
        failed_tx.update(range(stream.n_warm, stream.n_backlog))
    failed_tx.update(range(stream.n_backlog + len(lags), len(stream.txs)))
    failed = min(len(stream.txs), len(failed_tx) + extra)
    if "done" not in marks:
        failed = len(stream.txs)

    late = stats["late_p99_s"]
    if late > MAX_GENERATOR_LATE_S:
        raise InvalidRun(f"generator ran {late:.3f} s late at p99 "
                         f"(limit {MAX_GENERATOR_LATE_S} s)")
    dest_bytes, dest_files = dir_bytes(sink_root)
    live_rows = len(expected[W.ACCOUNTS]) + len(expected[W.COUNTERS]) + n_changelog
    e2e = {}
    if failed == 0:
        e2e = {
            "setup_s": setup_s,
            "rows_per_s": (stream.row_events(stream.n_warm, stream.n_backlog)
                           / (stats["backlog_ack"] - stats["t0"])),
            "lag_p50_s": quantile(lags, 0.5),
            "lag_p99_s": quantile(lags, 0.99),
            "dest_bytes_per_row": dest_bytes / max(1, live_rows),
            "peak_rss_mb": rss.peak_kb / 1024.0,
        }
    cycles = " ".join(f"{n}/{dt:.3f}s" for dt, n in stats.get("backlog_cycles", []))
    return {"attempted": len(stream.txs), "failed": failed, "e2e": e2e,
            "wall_s": wall, "dest_files": dest_files, "generator": stats,
            "detail": f"backlog cycles (row events/time): {cycles}"}


# --------------------------------------------------------------------------
# initial_copy
# --------------------------------------------------------------------------

def _copy_once(spark, port: int, work: str, table: str, n_rows: int):
    """``Replicator.initial_sync`` over the planned ctid ranges, then the
    destination's ``write_snapshot`` (as ``Pipeline.backfill`` loads a
    copied table); returns the sink and the wall time of both."""
    from etl_spark.config import BatchConfig, PgConnectionConfig, PipelineConfig
    from etl_spark.replicator import Replicator, TableSpec
    from etl_spark.sources.socket_transport import SocketReplicationSource
    from etl_spark.streaming.sinks import ParquetCurrentStateSink

    cfg = PipelineConfig(
        id=1, pg_connection=PgConnectionConfig(host="127.0.0.1", port=port),
        batch=BatchConfig(max_bytes=W.COPY_MAX_BYTES),
        max_copy_connections_per_table=W.COPY_CONNECTIONS)
    rep = Replicator(spark, cfg, os.path.join(work, "replicator"),
                     make_source=lambda: SocketReplicationSource("127.0.0.1", port))
    sink = ParquetCurrentStateSink(os.path.join(work, "dest"), keys=["id"], spark=spark)
    spec = TableSpec(oid=16500, name=table,
                     payload_schema=W.payload_schema(W.COPY_COLS),
                     ctid_ranges=[r for r, _ in W.ctid_ranges(n_rows)])
    t0 = time.monotonic()
    synced = rep.initial_sync([spec])
    sink.write_snapshot(table, synced[table])
    return sink, time.monotonic() - t0


def _checksums(dfs: list) -> list[tuple]:
    """Per destination, (rows, sum of per-row hashes), in one Spark job:
    equal for two destinations that hold the same rows."""
    import functools

    from pyspark.sql import functions as F

    tagged = [df.select(F.lit(i).alias("copy"),
                        F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h"))
              for i, df in enumerate(dfs)]
    got = {r["copy"]: (r["n"], r["h"]) for r in
           functools.reduce(lambda a, b: a.unionAll(b), tagged)
           .groupBy("copy").agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h"))
           .collect()}
    return [got.get(i) for i in range(len(dfs))]


def run_copy(spark, seed: int, seconds: float, gen, base: str, tracer) -> dict:
    """A small copy (set-up ends after it), ``COPY_WARMUPS`` untimed
    copies of the table, then ``COPY_REPEATS`` timed copies, each into a
    fresh destination. The last copy is checked row by row against the
    generated rows, every other copy against the last one's checksum."""
    _copy_once(spark, gen.port, os.path.join(base, "warm"),
               W.WARM_COPY_TABLE, W.WARM_COPY_ROWS)
    setup_s = _since_process_start()

    n_rows = W.copy_size(seconds)
    sinks = [_copy_once(spark, gen.port, os.path.join(base, f"warm{i}"),
                        W.COPY_TABLE, n_rows)[0]
             for i in range(W.COPY_WARMUPS)]
    walls = []
    rss = RssSampler(exclude=gen.proc.pid)
    rss.armed = True
    if tracer is not None:
        tracer.active = True
    try:
        with rss:
            for i in range(W.COPY_REPEATS):
                sink, wall = _copy_once(spark, gen.port, os.path.join(base, f"copy{i}"),
                                        W.COPY_TABLE, n_rows)
                sinks.append(sink)
                walls.append(wall)
    finally:
        if tracer is not None:
            tracer.active = False
    stats = gen.stop()

    rows = W.copy_rows(seed, n_rows)
    expected = {r[0]: tuple(r) for r in rows}
    last = sinks[-1].read(W.COPY_TABLE)
    failed = len(compare_keyed(W.COPY_TABLE, expected, read_rows(last, W.COPY_TABLE)))
    sums = _checksums([sink.read(W.COPY_TABLE) for sink in sinks])
    for i, got in enumerate(sums[:-1]):
        if got != sums[-1]:
            print(f"mismatch {W.COPY_TABLE}: copy {i} differs from the last copy",
                  file=sys.stderr)
            failed += n_rows
    dest_bytes, dest_files = dir_bytes(
        os.path.join(base, f"copy{W.COPY_REPEATS - 1}", "dest"))
    attempted = n_rows * len(sinks)
    e2e = {}
    if failed == 0:
        # every row of a copy lands at its one write_snapshot, so a copy's
        # lag percentiles all equal its wall time
        wall = statistics.median(walls)
        e2e = {
            "setup_s": setup_s,
            "rows_per_s": n_rows / wall,
            "lag_p50_s": wall,
            "lag_p99_s": wall,
            "dest_bytes_per_row": dest_bytes / n_rows,
            "peak_rss_mb": rss.peak_kb / 1024.0,
        }
    return {"attempted": attempted, "failed": min(attempted, failed), "e2e": e2e,
            "wall_s": sum(walls), "dest_files": dest_files, "generator": stats,
            "detail": "timed copies: " + " ".join(f"{w:.3f}s" for w in walls)}


# --------------------------------------------------------------------------
# Entry point
# --------------------------------------------------------------------------

class InvalidRun(RuntimeError):
    """The load was not the one the workload fixes; nothing was measured."""


def run_workload(spark, workload: str, seed: int, seconds: float, gen,
                 base: str, tracer) -> dict:
    if workload == "initial_copy":
        return run_copy(spark, seed, seconds, gen, base, tracer)
    return run_stream(spark, seed, seconds, gen, base, tracer)


def report_layers(workload: str, res: dict, tracer) -> dict:
    import spans

    m = spans.layer_metrics(tracer)
    g = res["generator"]
    m["sinks.dest_files"] = float(res["dest_files"])
    m["source.generator_late_p99_s"] = g["late_p99_s"]
    m["source.unacked_bytes_max"] = float(g.get("unacked_bytes_max", 0))
    m["source.ack_interval_p50_s"] = g.get("ack_interval_p50_s", 0.0)
    m["source.drain_tail_s"] = g.get("drain_tail_s") or 0.0
    st = tracer.self_times()
    wall = res["wall_s"]
    top = sum(sp["end"] - sp["start"] for sp in tracer.spans
              if sp["parent"] is None and sp["main"] and sp["end"] is not None)
    print(f"[{workload}] traced: self time per span, as a share of the timed "
          f"wall of {wall:.3f} s")
    for name, a in sorted(st.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"  {name:40s} n={a['n']:<6d} busy={a['busy_s']:9.3f} s "
              f"self={a['self_s']:9.3f} s ({100 * a['self_s'] / max(wall, 1e-9):5.1f}%)")
    print(f"  outside any span (loop idle, waits): {wall - top:.3f} s "
          f"({100 * (wall - top) / max(wall, 1e-9):.1f}%)")
    if m["pipeline.trigger.addBatch_s"]:
        print(f"  apply_self_s {m['pipeline.apply_self_s']:.3f} s of addBatch "
              f"{m['pipeline.trigger.addBatch_s']:.3f} s; cycle overhead "
              f"{m['pipeline.cycle_overhead_s']:.3f} s over "
              f"{m['pipeline.cycles']:.0f} cycles")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    names = a.workload.split(",")
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        print(f"unknown workload(s): {unknown}; choose from {WORKLOADS}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "etl_spark")):
        print(f"no etl_spark package under {ROOT}: run from a repository checkout",
              file=sys.stderr)
        return 2

    run_id = f"{'-'.join(names)}-s{a.seed}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(ROOT, ".perfbench", "runs", run_id)
    os.makedirs(run_dir)
    pin_environment(run_dir)
    gens = {n: GeneratorProcess(n, a.seed, a.seconds) for n in names}
    # not a daemon: if the run fails while the watchdog is firing, the
    # interpreter waits for it to finish cleaning up and exit 4
    watchdog = threading.Timer(RUN_LIMIT_S * len(names), _abort, (gens, run_dir))
    watchdog.start()
    spark = None
    results, layer = {}, {}
    try:
        from etl_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # the driver heap is committed and touched up front, so peak
            # RSS moves with what the engine adds beyond it (Python side,
            # off-heap, code) rather than with when G1 grows the heap
            "spark.driver.defaultJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"})
        tracer = None
        if a.trace:
            import spans

            tracer = spans.Tracer(run_id)
            spans.install(tracer, spark)
        for name in names:
            gen = gens[name]
            gen.ready()
            base = os.path.join(run_dir, name)
            os.makedirs(base)
            try:
                res = run_workload(spark, name, a.seed, a.seconds, gen, base, tracer)
            except InvalidRun:
                raise
            except Exception as exc:  # a crash counts as all failed
                import traceback

                traceback.print_exc()
                print(f"[{name}] run failed: {exc}", file=sys.stderr)
                n = max(1, gen.n_tx or gen.n_rows or 1)
                res = {"attempted": n, "failed": n, "e2e": {}, "wall_s": 0.0,
                       "dest_files": 0, "generator": {}}
            results[name] = res
            if tracer is not None:
                if res["generator"]:
                    layer[name] = report_layers(name, res, tracer)
                tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                         f"{run_id}-{name}.json"))
                tracer.reset()
            shutil.rmtree(base, ignore_errors=True)
    except InvalidRun as exc:
        print(f"invalid run: {exc}", file=sys.stderr)
        return 3
    finally:
        for gen in gens.values():
            gen.kill()
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            watchdog.cancel()
            shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    for name, r in results.items():
        print(f"[{name}] attempted={r['attempted']} failed={r['failed']} "
              f"failed_ratio={r['failed'] / max(1, r['attempted']):.6f} "
              f"timed_wall={r['wall_s']:.3f} s")
        if r.get("detail"):
            print(f"[{name}] {r['detail']}")
        for k, v in r["e2e"].items():
            print(f"[{name}] {k} = {v:.6g} {E2E_UNITS[k]}")
        for k, v in layer.get(name, {}).items():
            print(f"[{name}] {k} = {v:.6g} {layer_unit(k)}")
    # with a subset of workloads the lines above are the report; the
    # result line carries the last workload's metrics
    last = names[-1]
    src = layer.get(last, {}) if a.trace else results[last]["e2e"]
    metrics = {k: {"value": v, "unit": E2E_UNITS.get(k) or layer_unit(k)}
               for k, v in src.items()}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _abort(gens: dict, run_dir: str) -> None:
    """Past the run's time limit: stop the generator and the JVM (its
    stdin closing ends it and Spark's Python workers), then exit 4 with
    no result."""
    from pyspark import SparkContext

    print(f"run exceeded its time limit of {RUN_LIMIT_S:.0f} s per workload",
          file=sys.stderr, flush=True)
    for gen in gens.values():
        gen.proc.kill()
        gen.proc.wait()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)
    os._exit(4)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and Spark's Python workers,
    its children) to exit: the JVM ends when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_max")):
        return "B"
    if name.endswith("per_batch"):
        return "jobs/batch"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
