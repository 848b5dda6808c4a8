"""Smoke tests of the benchmark itself, at tiny scale.

Run from the repository root::

    python3 -m pytest perfbench/test_smoke.py -q

The first tests need no Spark session; the last runs every workload end
to end (about three minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import workloads as W  # noqa: E402


def test_fold_resolves_toast_ddl_and_deletes():
    s = W.Stream(n_warm=0, n_backlog=0)
    acc = [1, 10000, 0, "a\tb", 5]
    s.txs = [
        [W.Op("I", W.COUNTERS, new=[7, 1, "big", 0])],
        [W.Op("U", W.COUNTERS, new=[7, 2, W.TOAST, 1], old=[7, 1, "big", 0])],
        [W.Op("I", W.ACCOUNTS, new=acc), W.Op("I", W.ACCOUNTS, new=[2, None, 0, None, None])],
        [W.Op("R", W.ACCOUNTS, columns=W.ACCOUNTS_COLS + [W.ACCOUNTS_ADDED]),
         W.Op("U", W.ACCOUNTS, new=[2, 1, 1, "x", 1, 3])],
        [W.Op("D", W.ACCOUNTS, key=[2]), W.Op("I", W.EVENTS, new=[1, "k", None])],
    ]
    got = W.fold(s)
    assert got[W.COUNTERS] == {7: (7, 2, "big", 1)}
    assert got[W.ACCOUNTS] == {1: tuple(acc) + (None,)}
    assert got[W.EVENTS] == [(1, "k", None)]


def test_copy_line_escapes_and_nulls():
    row = [3, -12345, 0, "t\tn\nb\\r\r", None, True, "x"]
    line = W.copy_line(row)
    assert line == b"3\t-1.2345\t1970-01-01 00:00:00.000000\tt\\tn\\nb\\\\r\\r\t\\N\tt\tx"


def test_stream_is_seeded_and_phased():
    a, b = W.streaming_workload(5, 0.5), W.streaming_workload(5, 0.5)
    assert [len(t) for t in a.txs] == [len(t) for t in b.txs]
    assert 0 < a.n_warm < a.n_backlog < len(a.txs)
    assert len(a.txs) - a.n_backlog == int(W.PACED_TX_PER_S * 0.5)
    assert any(op.kind == "R" for tx in a.txs for op in tx)


def test_generator_serves_copy_ranges():
    from etl_spark.sources.snapshot import build_copy_query
    from etl_spark.sources.socket_transport import SocketReplicationSource

    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "generator.py"), "--workload",
         "initial_copy", "--seed", "3", "--seconds", "0.05"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        ready = proc.stdout.readline().split()
        assert ready[0] == "READY"
        port, n_rows = int(ready[1]), int(ready[4])
        lines = []
        for (rng, _slice) in W.ctid_ranges(n_rows):
            src = SocketReplicationSource("127.0.0.1", port)
            for batch in src.copy_out(build_copy_query(W.COPY_TABLE, ctid_range=rng)):
                lines += batch
            src.close()
        want = [W.copy_line(r) for r in W.copy_rows(3, n_rows)]
        assert lines == want
        proc.stdin.write("STOP\n")
        proc.stdin.flush()
        out, _ = proc.communicate(timeout=30)
        stats = json.loads(out.split("STATS ", 1)[1])
        assert stats["copy_bytes"] > 0
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()


def _run(workloads: str, trace: int) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workloads,
         "--seed", "7", "--seconds", "0.3", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def test_every_workload_end_to_end():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = ",".join(w["name"] for w in bench["workloads"])
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    for trace, want in ((0, e2e), (1, layers)):
        code, out = _run(names, trace)
        assert code == 0, out[-20:]
        res = json.loads(out[-1])
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
        assert set(res["metrics"]) == want
        for w in bench["workloads"]:
            printed = {line.split("] ", 1)[1].split(" = ")[0] for line in out
                       if line.startswith(f"[{w['name']}] ") and " = " in line}
            assert want <= printed, (w["name"], want - printed)
