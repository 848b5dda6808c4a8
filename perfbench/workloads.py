"""Seeded replication workloads and their independent oracle.

Pure Python on purpose: nothing here imports ``etl_spark``, so the
expected destination state never shares code with the system under test.
The generator process turns the same seeded operations into pgoutput /
COPY bytes; `run.py` folds them into expected rows.

Value model (one Python value per cell, ``None`` is SQL NULL):

- ``int8``/``int4``: ``int``
- ``numeric``: ``int`` scaled by 10**4 (streamed tables keep the
  engine's exact text pass-through for numeric; the copy table decodes
  to ``decimal(18,4)``)
- ``timestamptz``/``timestamp``: ``int`` microseconds since the unix epoch
- ``text``: ``str``; ``bool``: ``bool``
"""

from __future__ import annotations

import bisect
import datetime as _dt
import random
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# Workload parameters. A run's size scales with --seconds.
# --------------------------------------------------------------------------

# catchup_then_trickle runs a backlog catch-up and a paced trickle back to
# back on one pipeline, so the cold set-up a run pays (15-30 s on 4 cores)
# is paid once for both.

#: backlog phase: row events per requested second; the whole backlog is
#: available at once (closed loop)
BACKLOG_EVENTS_PER_S = 2900
#: backlog phase: two bulk insert transactions of this many rows; the
#: first carries the ADD COLUMN; the rest is 1-5 row transactions
BULK_ROWS = 4000
#: where the bulk transactions go, as shares of the small-transaction
#: events: at --seconds 10 the first straddles the STREAM_MAX_BYTES
#: boundary, so it spans two pump batches; the backlog (about 2.9 MiB of
#: frames) fills one pump batch and most of a second
BULK_AT = (0.54, 0.8)
#: paced phase: PACED_TX_PER_S x --seconds transactions (>= 1000 at
#: --seconds 10), offered at TRICKLE_TX_PER_S on a fixed schedule
#: (open loop)
PACED_TX_PER_S = 100
TRICKLE_TX_PER_S = 200
#: the pump's batch ceiling (batch.max_bytes) for the whole stream: the
#: backlog's first batch is cut by bytes, its second and the paced phase
#: (well under this) only by the idle read after their last commit --
#: the pump has no time-based cut (BatchConfig.max_fill_ms is not
#: consulted)
STREAM_MAX_BYTES = 3 << 19  # 1.5 MiB

#: initial_copy: rows per requested second, per copy
COPY_ROWS_PER_S = 5000
#: initial_copy: the table is copied COPY_WARMUPS times untimed (copy
#: times keep falling over the first few copies of a fresh JVM), then
#: COPY_REPEATS times timed; each copy lands in a fresh destination and
#: the timings are the medians over the timed copies
COPY_WARMUPS = 2
COPY_REPEATS = 4
#: initial_copy: planned ctid ranges and the connection pool serving them
COPY_RANGES = 4
COPY_CONNECTIONS = 2
#: initial_copy: COPY relay batch ceiling (batch.max_bytes)
COPY_MAX_BYTES = 8 << 20

#: the set-up prefix of a stream / the set-up copy table
WARM_TX = 24
WARM_COPY_ROWS = 200

# --------------------------------------------------------------------------
# Table definitions: (name, pg type oid, value kind, destination type)
# --------------------------------------------------------------------------

ACCOUNTS = "public.accounts"   # wide current-state table, gets ADD COLUMN
COUNTERS = "public.counters"   # Zipf-keyed, update-heavy, unchanged TOAST
EVENTS = "public.events"       # insert-only, routed to the changelog sink
COPY_TABLE = "public.ledger"   # the initial_copy table
WARM_COPY_TABLE = "public.ledger_warm"

REL_IDS = {ACCOUNTS: 16401, COUNTERS: 16402, EVENTS: 16403}

#: column: (name, type oid, kind, destination type)
ACCOUNTS_COLS = [
    ("id", 20, "int", "long"),
    ("balance", 1700, "num", "string"),
    ("updated_at", 1184, "ts", "timestamp"),
    ("note", 25, "text", "string"),
    ("qty", 23, "int", "int"),
]
#: the column the mid-stream ADD COLUMN introduces (type mapped from its
#: oid by the engine; no default, so pre-DDL rows read NULL)
ACCOUNTS_ADDED = ("tier", 23, "int", None)
COUNTERS_COLS = [
    ("k", 20, "int", "long"),
    ("hits", 20, "int", "long"),
    ("payload", 25, "text", "string"),
    ("updated_at", 1184, "ts", "timestamp"),
]
EVENTS_COLS = [
    ("id", 20, "int", "long"),
    ("kind", 25, "text", "string"),
    ("amount", 1700, "num", "string"),
]
COPY_COLS = [
    ("id", 20, "int", "long"),
    ("balance", 1700, "num", "decimal(18,4)"),
    ("created_at", 1114, "ts", "timestamp"),
    ("note", 25, "text", "string"),
    ("qty", 23, "int", "int"),
    ("active", 16, "bool", "boolean"),
    ("label", 25, "text", "string"),
]
KEYS = {ACCOUNTS: ["id"], COUNTERS: ["k"], EVENTS: ["id"]}
STREAM_TABLES = {ACCOUNTS: ACCOUNTS_COLS, COUNTERS: COUNTERS_COLS,
                 EVENTS: EVENTS_COLS}


def payload_schema(cols) -> str:
    return ", ".join(f"{n} {t}" for n, _oid, _k, t in cols)


# --------------------------------------------------------------------------
# Operations
# --------------------------------------------------------------------------

#: an unchanged-TOAST cell in a new tuple (pgoutput 'u')
TOAST = object()


@dataclass
class Op:
    kind: str                    # "I" | "U" | "D" | "R" (relation republish)
    table: str
    new: list | None = None      # full new row; TOAST marks unchanged cells
    old: list | None = None      # full old row (replica identity FULL)
    key: list | None = None      # key-only old image (replica identity default)
    columns: list | None = None  # for "R": the table's new column list


@dataclass
class Stream:
    """One generated replication stream: transactions of ops."""

    txs: list[list[Op]] = field(default_factory=list)
    n_warm: int = 0      # txs[:n_warm]: set-up prefix, not measured
    n_backlog: int = 0   # txs[n_warm:n_backlog]: backlog; the rest is paced

    def row_events(self, lo: int, hi: int) -> int:
        return sum(1 for tx in self.txs[lo:hi] for op in tx if op.kind != "R")


_NOTE_PIECES = ["plain", "tab\there", "new\nline", "back\\slash", "quote'\"",
                "cr\rret", "ünïcødé", "comma,semi;", "  spaced  ", "\\N",
                "€uro", ""]
_EPOCH_2024_US = 1_704_067_200_000_000


def _note(rng: random.Random) -> str:
    return " ".join(rng.choice(_NOTE_PIECES) for _ in range(rng.randint(1, 3)))


def _maybe(rng: random.Random, v, p_null: float = 0.1):
    return None if rng.random() < p_null else v


class _Zipf:
    def __init__(self, n: int, s: float, rng: random.Random):
        acc, cdf = 0.0, []
        for i in range(1, n + 1):
            acc += 1.0 / i ** s
            cdf.append(acc)
        self.cdf = [c / acc for c in cdf]
        self.rng = rng

    def draw(self) -> int:
        return bisect.bisect_left(self.cdf, self.rng.random()) + 1


class _MixGenerator:
    """The three-table transaction mix shared by the streaming workloads."""

    def __init__(self, rng: random.Random, zipf_keys: int = 2000):
        self.rng = rng
        self.accounts: dict[int, list] = {}
        self.counters: dict[int, list] = {}
        self.next_account = 1
        self.next_event = 1
        self.ts = _EPOCH_2024_US + rng.randrange(10**9)
        self.zipf = _Zipf(zipf_keys, 1.1, rng)
        self.accounts_cols = len(ACCOUNTS_COLS)

    def _tick(self) -> int:
        self.ts += self.rng.randint(1, 5_000_000)
        return self.ts

    def _account_row(self, aid: int) -> list:
        r = self.rng
        row = [aid, _maybe(r, r.randint(-10**9, 10**9)), self._tick(),
               _maybe(r, _note(r)), _maybe(r, r.randint(-1000, 1000))]
        if self.accounts_cols > len(ACCOUNTS_COLS):
            row.append(_maybe(r, r.randint(1, 5), 0.2))
        return row

    def _account_op(self) -> Op:
        r = self.rng
        x = r.random()
        aid = None
        if self.accounts and x >= 0.4:
            # a few draws over the id range; deleted ids fall through
            # to an insert, which keeps the live set close to the range
            for _ in range(3):
                cand = r.randrange(1, self.next_account)
                if cand in self.accounts:
                    aid = cand
                    break
        if aid is None:
            aid = self.next_account
            self.next_account += 1
            row = self._account_row(aid)
            self.accounts[aid] = row
            return Op("I", ACCOUNTS, new=row)
        if x < 0.92:
            row = self._account_row(aid)
            self.accounts[aid] = row
            return Op("U", ACCOUNTS, new=row)
        del self.accounts[aid]
        return Op("D", ACCOUNTS, key=[aid])

    def _counter_op(self) -> Op:
        r = self.rng
        k = self.zipf.draw()
        cur = self.counters.get(k)
        if cur is None:
            row = [k, 1, "p" * r.randint(40, 200) + f"#{k}", self._tick()]
            self.counters[k] = row
            return Op("I", COUNTERS, new=row)
        if r.random() < 0.05:
            del self.counters[k]
            return Op("D", COUNTERS, old=list(cur))
        toast_unchanged = r.random() < 0.8
        row = [k, cur[1] + 1,
               cur[2] if toast_unchanged else f"q{r.randrange(10**6)}#{k}",
               self._tick()]
        self.counters[k] = row
        new = list(row)
        if toast_unchanged:
            new[2] = TOAST
        return Op("U", COUNTERS, new=new, old=list(cur))

    def _event_op(self) -> Op:
        r = self.rng
        eid = self.next_event
        self.next_event += 1
        return Op("I", EVENTS, new=[eid, r.choice(["click", "view", "buy\tnow",
                                                   "ref\\x"]),
                                    _maybe(r, r.randint(0, 10**8))])

    def small_tx(self) -> list[Op]:
        ops = []
        for _ in range(self.rng.randint(1, 5)):
            x = self.rng.random()
            if x < 0.3:
                ops.append(self._account_op())
            elif x < 0.8:
                ops.append(self._counter_op())
            else:
                ops.append(self._event_op())
        return ops

    def bulk_tx(self, rows: int) -> list[Op]:
        return [self._event_op() for _ in range(rows)]

    def add_column(self) -> Op:
        self.accounts_cols += 1
        return Op("R", ACCOUNTS, columns=ACCOUNTS_COLS + [ACCOUNTS_ADDED])


def streaming_workload(seed: int, seconds: float) -> Stream:
    """The ``catchup_then_trickle`` stream: a set-up prefix (``n_warm``
    transactions), the backlog (up to ``n_backlog``), then the paced
    transactions."""
    rng = random.Random(f"catchup_then_trickle:{seed}")
    gen = _MixGenerator(rng)
    s = Stream()
    s.txs = [gen.small_tx() for _ in range(WARM_TX)]
    s.txs.append(gen.bulk_tx(50))
    s.n_warm = len(s.txs)
    target = int(BACKLOG_EVENTS_PER_S * seconds)
    bulk = min(BULK_ROWS, target // 4)
    small_target = target - 2 * bulk
    events = 0
    inserts = [(int(small_target * BULK_AT[0]), True),
               (int(small_target * BULK_AT[1]), False)]
    while events < small_target:
        tx = gen.small_tx()
        s.txs.append(tx)
        events += len(tx)
        if inserts and events >= inserts[0][0]:
            _, ddl = inserts.pop(0)
            # the republish rides the first transaction after the DDL,
            # ahead of the row that first carries the column
            s.txs.append(([gen.add_column(), gen._account_op()] if ddl else [])
                         + gen.bulk_tx(bulk))
    s.n_backlog = len(s.txs)
    s.txs += [gen.small_tx() for _ in range(int(PACED_TX_PER_S * seconds))]
    return s


def copy_rows(seed: int, n_rows: int, warm: bool = False) -> list[list]:
    """Rows of the ``initial_copy`` table, in ctid order."""
    rng = random.Random(f"initial_copy:{seed}:{'warm' if warm else 'main'}")
    ts = _EPOCH_2024_US
    out = []
    for i in range(1, n_rows + 1):
        ts += rng.randint(0, 3_000_000)
        out.append([
            i,
            _maybe(rng, rng.randint(-10**12, 10**12)),
            _maybe(rng, ts, 0.05),
            _maybe(rng, _note(rng)),
            _maybe(rng, rng.randint(-50000, 50000)),
            _maybe(rng, rng.random() < 0.5, 0.05),
            rng.choice(["alpha", "beta", "gamma\tdelta", "x\\y", "€"]),
        ])
    return out


def copy_size(seconds: float) -> int:
    return int(COPY_ROWS_PER_S * seconds)


def ctid_ranges(n_rows: int, n_ranges: int = COPY_RANGES,
                rows_per_page: int = 64):
    """``n_ranges`` contiguous ctid ranges over ``n_rows`` rows, as
    (start_tid, end_tid) strings with open ends None, and the row slice
    each covers."""
    pages = max(1, -(-n_rows // rows_per_page))
    bounds = [round(i * pages / n_ranges) for i in range(n_ranges + 1)]
    out = []
    for i in range(n_ranges):
        lo, hi = bounds[i], bounds[i + 1]
        start = None if i == 0 else f"({lo},1)"
        end = None if i == n_ranges - 1 else f"({hi},1)"
        out.append(((start, end),
                    (lo * rows_per_page, min(n_rows, hi * rows_per_page))))
    return out


# --------------------------------------------------------------------------
# Text renderings (pgoutput text cells and COPY text lines)
# --------------------------------------------------------------------------

_EPOCH = _dt.datetime(1970, 1, 1)


def ts_text(us: int, tz: bool) -> str:
    t = _EPOCH + _dt.timedelta(microseconds=us)
    return t.strftime("%Y-%m-%d %H:%M:%S.%f") + ("+00" if tz else "")


def num_text(v: int) -> str:
    sign = "-" if v < 0 else ""
    a = abs(v)
    return f"{sign}{a // 10000}.{a % 10000:04d}"


def cell_text(kind: str, v, oid: int) -> str:
    if kind == "int":
        return str(v)
    if kind == "num":
        return num_text(v)
    if kind == "ts":
        return ts_text(v, tz=oid == 1184)
    if kind == "bool":
        return "t" if v else "f"
    return v


_COPY_ESC = str.maketrans({"\\": "\\\\", "\t": "\\t", "\n": "\\n",
                           "\r": "\\r"})


def copy_line(row: list, cols=COPY_COLS) -> bytes:
    cells = []
    for v, (_n, oid, kind, _t) in zip(row, cols):
        cells.append("\\N" if v is None
                     else cell_text(kind, v, oid).translate(_COPY_ESC))
    return "\t".join(cells).encode()


# --------------------------------------------------------------------------
# The oracle: fold operations into expected destination rows
# --------------------------------------------------------------------------

def fold(stream: Stream) -> dict:
    """Expected destination per table.

    Current-state tables map key -> row (the accounts rows carry the
    added column, NULL for rows last written before the ADD COLUMN);
    the changelog table is the list of inserted rows."""
    state: dict[str, dict] = {ACCOUNTS: {}, COUNTERS: {}}
    changelog: list[tuple] = []
    width = {ACCOUNTS: len(ACCOUNTS_COLS), COUNTERS: len(COUNTERS_COLS)}
    for tx in stream.txs:
        for op in tx:
            if op.kind == "R":
                width[op.table] = len(op.columns)
                continue
            if op.table == EVENTS:
                changelog.append(tuple(op.new))
                continue
            rows = state[op.table]
            if op.kind == "D":
                k = (op.key or op.old)[0]
                rows.pop(k, None)
                continue
            new = list(op.new)
            prev = rows.get(new[0])
            for i, v in enumerate(new):
                if v is TOAST:
                    new[i] = prev[i]
            rows[new[0]] = tuple(new)
    n_acc = len(ACCOUNTS_COLS) + 1
    state[ACCOUNTS] = {k: tuple(v) + (None,) * (n_acc - len(v))
                       for k, v in state[ACCOUNTS].items()}
    return {ACCOUNTS: state[ACCOUNTS], COUNTERS: state[COUNTERS],
            EVENTS: changelog}


def column_names(table: str) -> list[str]:
    if table == ACCOUNTS:
        return [c[0] for c in ACCOUNTS_COLS] + [ACCOUNTS_ADDED[0]]
    if table == COUNTERS:
        return [c[0] for c in COUNTERS_COLS]
    if table == EVENTS:
        return [c[0] for c in EVENTS_COLS]
    return [c[0] for c in COPY_COLS]


def column_kinds(table: str) -> list[str]:
    if table == ACCOUNTS:
        return [c[2] for c in ACCOUNTS_COLS] + [ACCOUNTS_ADDED[2]]
    cols = {COUNTERS: COUNTERS_COLS, EVENTS: EVENTS_COLS}.get(table, COPY_COLS)
    return [c[2] for c in cols]
