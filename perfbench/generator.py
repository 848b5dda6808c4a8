"""Replication load generator: a Postgres backend double in its own process.

Serves, on one loopback port, the parts of the backend protocol the
engine's socket transport speaks: the startup handshake (trust auth),
``BEGIN`` / ``SET TRANSACTION SNAPSHOT`` / ``COMMIT``, ``COPY ... TO
STDOUT`` over ctid ranges, and ``START_REPLICATION`` into CopyBoth.
Frames and CopyData are built with the engine's own encoders, so the
bytes are exactly what its decoder expects from a real server.

It never waits on the system under test: sockets are non-blocking, unsent
bytes queue in memory, and a paced stream enqueues each transaction at
its due time whatever the client is doing. Every standby status update
is recorded with its arrival time, so commit-to-flush-ack lag is Postgres's
own view of it, measured outside the engine.

A stream starts with a small set-up prefix, sent at once. When the flush
ack covering it arrives, the backlog is sent at once (closed loop); when
the ack covering the backlog arrives, the paced transactions follow on a
fixed schedule (open loop).

Usage::

    python3 perfbench/generator.py --workload W --seed N --seconds S

(W is ``catchup_then_trickle`` or ``initial_copy``)

prints ``READY <port> <final_commit_lsn> <transactions> <row_events>
<warm_final_commit_lsn>``
once listening, serves until a ``STOP`` line (or EOF) on stdin, then
prints ``STATS <json>`` and exits.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import re
import selectors
import socket
import struct
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads as W  # noqa: E402
from etl_spark.sources import live  # noqa: E402
from etl_spark.sources import pgoutput as pgo  # noqa: E402
from etl_spark.sources.socket_transport import PROTOCOL_VERSION, pq_message  # noqa: E402

SSL_REQUEST_CODE = 80877103
FIRST_LSN = 0x1_0000_0000


def _quantile(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]


# --------------------------------------------------------------------------
# Encoding
# --------------------------------------------------------------------------

def _cells(op_row, cols) -> list:
    out = []
    for v, (_n, oid, kind, _t) in zip(op_row, cols):
        if v is W.TOAST:
            out.append(pgo.UNCHANGED_TOAST)
        elif v is None:
            out.append(None)
        else:
            out.append(W.cell_text(kind, v, oid))
    return out


def _relation(table: str, cols) -> bytes:
    ns, name = table.split(".")
    key = set(W.KEYS[table])
    replident = "f" if table == W.COUNTERS else "d"
    return pgo.encode_relation(
        W.REL_IDS[table], ns, name, replident,
        [(1 if n in key else 0, n, oid, -1) for n, oid, _k, _t in cols])


class EncodedStream:
    """A stream as CopyData bytes: a prelude (out-of-transaction RELATION
    frames) and one byte string per transaction with its commit LSN."""

    def __init__(self, stream: W.Stream):
        self.lsn = FIRST_LSN
        cols = dict(W.STREAM_TABLES)
        self.prelude = b"".join(
            self._msg(_relation(t, c)) for t, c in W.STREAM_TABLES.items())
        self.txs: list[bytes] = []
        self.commit_lsns: list[int] = []
        self.rows: list[int] = []
        for tx in stream.txs:
            frames = []
            for op in tx:
                rel = W.REL_IDS[op.table]
                if op.kind == "R":
                    cols[op.table] = op.columns
                    frames.append(_relation(op.table, op.columns))
                elif op.kind == "I":
                    frames.append(pgo.encode_insert(rel, _cells(op.new, cols[op.table])))
                elif op.kind == "U":
                    old = None if op.old is None else _cells(op.old, cols[op.table])
                    frames.append(pgo.encode_update(
                        rel, _cells(op.new, cols[op.table]), old=old))
                else:
                    if op.old is not None:
                        frames.append(pgo.encode_delete(
                            rel, old=_cells(op.old, cols[op.table])))
                    else:
                        frames.append(pgo.encode_delete(
                            rel, key=[str(v) for v in op.key]))
            begin_lsn = self.lsn
            commit_lsn = begin_lsn + 32 + sum(len(f) for f in frames)
            parts = [self._msg(pgo.encode_begin(commit_lsn, 0, len(self.txs) + 1))]
            parts += [self._msg(f) for f in frames]
            self.lsn = commit_lsn
            parts.append(self._msg(pgo.encode_commit(commit_lsn, commit_lsn + 32)))
            self.txs.append(b"".join(parts))
            self.commit_lsns.append(commit_lsn)
            self.rows.append(sum(1 for op in tx if op.kind != "R"))
        self.n_warm = stream.n_warm
        self.n_backlog = stream.n_backlog

    def _msg(self, frame: bytes) -> bytes:
        ws = self.lsn
        self.lsn += max(len(frame), 1)
        return pq_message(b"d", live.encode_xlog_data(ws, self.lsn, 0, frame))


def _copy_blobs(rows: list[list]) -> dict:
    """ctid-range start tid -> the CopyData bytes of that range's lines."""
    out = {}
    for (start, _end), (lo, hi) in W.ctid_ranges(len(rows)):
        out[start] = (b"".join(pq_message(b"d", W.copy_line(r) + b"\n")
                               for r in rows[lo:hi]), hi - lo)
    return out


# --------------------------------------------------------------------------
# Serving
# --------------------------------------------------------------------------

class Conn:
    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.rbuf = bytearray()
        self.wbuf = bytearray()
        self.started = False      # startup packet seen
        self.slot: str | None = None
        self.closed = False


class Generator:
    def __init__(self, workload: str, seed: int, seconds: float):
        self.copy_tables: dict[str, dict] = {}
        if workload == "initial_copy":
            rows = W.copy_rows(seed, W.copy_size(seconds))
            self.copy_tables[W.COPY_TABLE] = _copy_blobs(rows)
            self.copy_tables[W.WARM_COPY_TABLE] = _copy_blobs(
                W.copy_rows(seed, W.WARM_COPY_ROWS, warm=True))
            self.stream = None
            self.final_lsn, self.n_tx, self.n_rows = 0, 0, len(rows)
            self.warm_final_lsn = 0
        else:
            s = self.stream = EncodedStream(W.streaming_workload(seed, seconds))
            self.final_lsn = s.commit_lsns[-1]
            self.n_tx = len(s.txs) - s.n_warm
            self.n_rows = sum(s.rows[s.n_warm:])
            self.warm_final_lsn = s.commit_lsns[s.n_warm - 1]
        self.sel = selectors.DefaultSelector()
        self.listener = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.listener.bind(("127.0.0.1", 0))
        self.listener.listen(8)
        self.listener.setblocking(False)
        self.port = self.listener.getsockname()[1]
        self.sel.register(self.listener, selectors.EVENT_READ, None)
        # main-stream bookkeeping: t0 = backlog released, t1 = paced
        # phase started
        self.t0: float | None = None
        self.t1: float | None = None
        self.next_tx = 0
        self.main_conn: Conn | None = None
        self.late: list[float] = []
        self.acks: list[tuple[float, int]] = []
        self.enqueued_bytes = 0
        self.tx_end_bytes: list[int] = []
        self.acked_bytes = 0
        self.unacked_max = 0
        self.copy_bytes = 0
        self.stopping = False

    # -- protocol ---------------------------------------------------------
    def _on_message(self, c: Conn, tag: bytes, body: bytes) -> None:
        if tag == b"X":
            self._close(c)
        elif tag == b"d":
            if body[:1] == b"r" and c.slot == "main":
                self._on_ack(time.monotonic(),
                             live.parse_copy_payload(body)["flush_lsn"])
        elif tag == b"c":
            pass  # client CopyDone: nothing more will be streamed
        elif tag == b"Q":
            self._on_query(c, body.rstrip(b"\0").decode().strip().rstrip(";"))
        else:
            raise ValueError(f"unexpected frontend tag {tag!r}")

    def _on_ack(self, t: float, flush: int) -> None:
        """Record one standby status update; track the bytes the engine
        had been sent but not yet confirmed just before it arrived."""
        self.acks.append((t, flush))
        self.unacked_max = max(self.unacked_max,
                               self.enqueued_bytes - self.acked_bytes)
        s = self.stream
        n = bisect.bisect_right(s.commit_lsns, flush)
        if n:
            self.acked_bytes = max(self.acked_bytes, self.tx_end_bytes[n - 1])
        if self.t0 is None and flush >= self.warm_final_lsn:
            # set-up prefix applied: release the backlog
            self.t0 = t
            self._enqueue(s.txs[s.n_warm : s.n_backlog])
        elif (self.t1 is None and self.t0 is not None
              and flush >= s.commit_lsns[s.n_backlog - 1]):
            # backlog applied: the paced schedule starts
            self.t1 = t
            self.next_tx = s.n_backlog

    def _ready(self, c: Conn, complete: bytes) -> None:
        c.wbuf += pq_message(b"C", complete + b"\0") + pq_message(b"Z", b"I")

    def _on_query(self, c: Conn, q: str) -> None:
        qu = q.upper()
        if qu.startswith(("BEGIN", "COMMIT", "SET ")):
            self._ready(c, qu.split()[0].encode())
        elif qu.startswith("COPY") and "TO STDOUT" in qu:
            table = re.search(r"from ([\w.]+)", q).group(1)
            m = re.search(r"ctid >= '(\([0-9]+,[0-9]+\))'::tid", q)
            blob, n = self.copy_tables[table][m.group(1) if m else None]
            if table == W.COPY_TABLE:
                self.copy_bytes += len(blob)
            c.wbuf += pq_message(b"H", struct.pack(">bh", 0, 0))
            c.wbuf += blob
            c.wbuf += pq_message(b"c", b"")
            self._ready(c, f"COPY {n}".encode())
        elif qu.startswith("START_REPLICATION"):
            s = self.stream
            c.slot = "main"
            self.main_conn = c
            c.wbuf += pq_message(b"W", struct.pack(">bh", 0, 0)) + s.prelude
            self.enqueued_bytes = len(s.prelude)
            self._enqueue(s.txs[: s.n_warm])
        else:
            c.wbuf += pq_message(b"E", b"SERROR\0Munsupported command\0\0")
            c.wbuf += pq_message(b"Z", b"I")

    def _parse(self, c: Conn) -> None:
        buf = c.rbuf
        while True:
            if not c.started:
                if len(buf) < 4:
                    return
                (ln,) = struct.unpack_from(">i", buf, 0)
                if len(buf) < ln:
                    return
                (code,) = struct.unpack_from(">i", buf, 4)
                del buf[:ln]
                if code == SSL_REQUEST_CODE:
                    c.wbuf += b"N"
                    continue
                if code != PROTOCOL_VERSION:
                    raise ValueError(f"unsupported startup code {code}")
                c.started = True
                c.wbuf += pq_message(b"R", struct.pack(">i", 0))
                c.wbuf += pq_message(b"Z", b"I")
                continue
            if len(buf) < 5:
                return
            (ln,) = struct.unpack_from(">i", buf, 1)
            if len(buf) < 1 + ln:
                return
            tag, body = bytes(buf[:1]), bytes(buf[5 : 1 + ln])
            del buf[: 1 + ln]
            self._on_message(c, tag, body)
            if c.closed:
                return

    def _close(self, c: Conn) -> None:
        if not c.closed:
            c.closed = True
            self.sel.unregister(c.sock)
            c.sock.close()

    def _flush(self, c: Conn) -> None:
        if c.closed or not c.wbuf:
            return
        try:
            n = c.sock.send(c.wbuf)
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            self._close(c)
            return
        del c.wbuf[:n]

    # -- pacing -----------------------------------------------------------
    def _enqueue(self, txs: list[bytes]) -> None:
        for tx in txs:
            self.enqueued_bytes += len(tx)
            self.tx_end_bytes.append(self.enqueued_bytes)
        c = self.main_conn
        if c is not None and not c.closed:
            c.wbuf += b"".join(txs)

    def _due(self, i: int) -> float:
        """When paced transaction ``i`` (stream index) is due."""
        return self.t1 + (i - self.stream.n_backlog) / W.TRICKLE_TX_PER_S

    def _pace(self, now: float) -> None:
        txs = self.stream.txs
        while self.next_tx < len(txs) and self._due(self.next_tx) <= now:
            self.late.append(now - self._due(self.next_tx))
            self._enqueue([txs[self.next_tx]])
            self.next_tx += 1

    def _next_due(self) -> float | None:
        if self.t1 is None:
            return None
        if self.next_tx >= len(self.stream.txs):
            return None
        return self._due(self.next_tx)

    def serve(self) -> None:
        self.sel.register(sys.stdin, selectors.EVENT_READ, "stdin")
        conns: list[Conn] = []
        while not self.stopping:
            now = time.monotonic()
            if self.t1 is not None:
                self._pace(now)
            for c in conns:
                self._flush(c)
            due = self._next_due()
            timeout = 0.05 if due is None else max(0.0, min(0.05, due - time.monotonic()))
            for c in conns:
                if c.wbuf and not c.closed:
                    self.sel.modify(c.sock, selectors.EVENT_READ | selectors.EVENT_WRITE, c)
                elif not c.closed:
                    self.sel.modify(c.sock, selectors.EVENT_READ, c)
            for key, mask in self.sel.select(timeout):
                if key.data is None:
                    try:
                        s, _ = self.listener.accept()
                    except BlockingIOError:
                        continue
                    s.setblocking(False)
                    s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                    c = Conn(s)
                    conns.append(c)
                    self.sel.register(s, selectors.EVENT_READ, c)
                elif key.data == "stdin":
                    line = sys.stdin.readline()
                    if not line or line.strip() == "STOP":
                        self.stopping = True
                else:
                    c = key.data
                    if mask & selectors.EVENT_READ:
                        try:
                            chunk = c.sock.recv(1 << 16)
                        except (BlockingIOError, InterruptedError):
                            chunk = None
                        except OSError:
                            chunk = b""
                        if chunk == b"":
                            self._close(c)
                        elif chunk:
                            c.rbuf += chunk
                            self._parse(c)
                    if mask & selectors.EVENT_WRITE:
                        self._flush(c)
            conns = [c for c in conns if not c.closed]
        for c in conns:
            self._close(c)
        self.listener.close()

    # -- results ----------------------------------------------------------
    def _ack_time(self, lsn: int) -> float | None:
        """Arrival of the first status update whose flush covers ``lsn``."""
        for t, flush in self.acks:
            if flush >= lsn:
                return t
        return None

    def stats(self) -> dict:
        out = {"late_p99_s": _quantile(self.late, 0.99),
               "late_max_s": max(self.late, default=0.0),
               "copy_bytes": self.copy_bytes}
        if self.t0 is None:
            return out
        s = self.stream
        out["t0"] = self.t0
        out["backlog_ack"] = self._ack_time(s.commit_lsns[s.n_backlog - 1])
        # paced transactions: due time -> first flush ack covering the
        # commit; flush LSNs arrive monotone, so walk both in order
        lags, acked_at = [], []
        j, best = 0, 0
        for i in range(s.n_backlog, len(s.txs) if self.t1 is not None else 0):
            lsn = s.commit_lsns[i]
            while j < len(self.acks) and best < lsn:
                best = max(best, self.acks[j][1])
                j += 1
            if best < lsn:
                break
            lags.append(self.acks[j - 1][0] - self._due(i))
            acked_at.append(self.acks[j - 1][0])
        advancing, last = [], self.warm_final_lsn
        for t_ack, flush in self.acks:
            if t_ack >= self.t0 and flush > last:
                advancing.append(t_ack)
                last = flush
        gaps = [b - a for a, b in zip(advancing, advancing[1:])]
        # the backlog's drain, one pipeline cycle per flush advance:
        # (seconds since the previous advance or the release, row events
        # whose commit the advance covers)
        cycles, t_prev, done_tx = [], self.t0, s.n_warm
        for t_ack, flush in self.acks:
            if t_ack < self.t0 or done_tx >= s.n_backlog:
                continue
            n = min(bisect.bisect_right(s.commit_lsns, flush), s.n_backlog)
            if n > done_tx:
                cycles.append((t_ack - t_prev, sum(s.rows[done_tx:n])))
                t_prev, done_tx = t_ack, n
        done = self.t1 is not None and len(lags) == len(s.txs) - s.n_backlog
        out.update({
            "lags": lags,
            "backlog_cycles": cycles,
            "drain_tail_s": acked_at[-1] - self._due(len(s.txs) - 1) if done else None,
            "ack_interval_p50_s": _quantile(gaps, 0.5),
            "unacked_bytes_max": max(self.unacked_max,
                                     self.enqueued_bytes - self.acked_bytes),
        })
        return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    g = Generator(a.workload, a.seed, a.seconds)
    print(f"READY {g.port} {g.final_lsn} {g.n_tx} {g.n_rows} {g.warm_final_lsn}",
          flush=True)
    g.serve()
    print("STATS " + json.dumps(g.stats()), flush=True)


if __name__ == "__main__":
    main()
