"""Seeded input generators for the audit-sessions benchmark.

Every input is a pure function of the seed. The program under test only
ever sees the files written here; the oracle sees the generator's own
event list (:class:`Events`), never the program's parse of those files.

Input properties and why each exists:

- Zipf-skewed users (``BACKFILL_ZIPF``): real audit volume is dominated by
  a few service accounts, so the sessionize shuffle has skewed keys and
  long sessions. Live users are flatter and far more numerous
  (``LIVE_USERS``), so the streaming state store holds tens of thousands
  of open sessions instead of a handful.
- Malformed lines (``MALFORMED_SHARE``): truncated and non-JSON lines
  exercise the lenient parse and the drop of unparseable records.
- Null users (``NULL_USER_SHARE``): exercise the ``reqUser`` filter.
- Pruned date dirs (``BACKFILL_PRUNED_DAYS``): the oldest days sit below
  ``audit.min_date``, so the date filter has files to drop.
- Unknown keys (``additional_info``): must be ignored by the parse.
- Event-time speed-up (``LIVE_EVENT_HOURS_PER_FILE``): each live file
  covers hours of event time, so the 2-day watermark closes sessions while
  the run is still landing files, not only at the final sentinel.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np

GAP_SECONDS = 600
WATERMARK_DELAY_S = 2 * 86400
WATERMARK_DELAY = "2 days"
SERVICES = ("hdfs", "hive", "kafka")
HOSTS = 4
MALFORMED_SHARE = 0.004
NULL_USER_SHARE = 0.004

BACKFILL_RECORDS = 240_000
BACKFILL_DAYS = 8
BACKFILL_PRUNED_DAYS = 2
BACKFILL_USERS = 20_000
BACKFILL_ZIPF = 1.2
BACKFILL_START = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

LIVE_FILES_PER_S = 10
#: 2k events/s keeps the stream well below saturation: per-batch fixed
#: cost dominates, so a slower machine lengthens batches without the
#: growing backlog that makes latency explode near saturation
LIVE_EVENTS_PER_FILE = 200
LIVE_EVENT_HOURS_PER_FILE = 1
LIVE_USERS = 100_000
LIVE_ZIPF = 1.05
LIVE_START = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
#: the sentinel's event time lies this far past the last regular event,
#: so its watermark passes the end of every open session
LIVE_SENTINEL_AFTER_S = WATERMARK_DELAY_S + 86400

_DENIED_SHARE = 0.3
_ACCESS = ("read", "write", "execute", "select", "update", "publish", "consume")
_RES_TYPES = ("path", "table", "topic", "column")
_LINE = (
    '{"repoType":%d,"repo":"cm_%s","reqUser":%s,"evtTime":"%s",'
    '"access":"%s","resource":"/data/%s/p%d","resType":"%s","action":"%s",'
    '"result":%d,"agent":"%s","policy":%d,"policy_version":%d,'
    '"enforcer":"ranger-acl","cliIP":"10.%d.%d.%d","reqData":"r%d",'
    '"agentHost":"%s-host%d","logType":"RangerAudit","id":"%016x-%d",'
    '"seq_num":%d,"event_count":%d,"event_dur_ms":%d,"tags":[],'
    '"cluster_name":"cl1","additional_info":"{}"}'
)


def day_name(ts_ms: int) -> str:
    """YYYYMMDD of an epoch-millis instant (UTC)."""
    return dt.datetime.fromtimestamp(ts_ms / 1000, dt.timezone.utc).strftime(
        "%Y%m%d"
    )


def _epoch_ms(t: dt.datetime) -> int:
    return int(t.timestamp() * 1000)


def _zipf_users(rng, n: int, n_users: int, a: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n_users + 1, dtype=np.float64) ** a
    p /= p.sum()
    return rng.choice(n_users, size=n, p=p)


@dataclass
class Events:
    """The generator's own event list: one entry per rendered line.

    ``user`` is -1 for a null user; ``malformed`` lines carry no record;
    ``file`` indexes the file the line lands in."""

    user: np.ndarray
    ts_ms: np.ndarray
    result: np.ndarray
    count: np.ndarray
    malformed: np.ndarray
    file: np.ndarray

    @staticmethod
    def draw(rng, user, ts_ms, file) -> "Events":
        n = len(user)
        user = user.copy()
        user[rng.random(n) < NULL_USER_SHARE] = -1
        return Events(
            user=user,
            ts_ms=ts_ms,
            result=np.where(rng.random(n) < _DENIED_SHARE, 0, 1),
            count=rng.integers(1, 4, size=n),
            malformed=rng.random(n) < MALFORMED_SHARE,
            file=file,
        )

    def valid(self, keep_file: np.ndarray | None = None) -> np.ndarray:
        """Mask of records the program must keep: parseable, non-null
        user and (when given) in a file the date filter keeps."""
        ok = ~self.malformed & (self.user >= 0)
        if keep_file is not None:
            ok &= keep_file[self.file]
        return ok


def render_lines(ev: Events, idx: np.ndarray, rng) -> list[str]:
    """Full 23-field Ranger audit JSON lines for events ``idx``."""
    stamps = np.datetime_as_string(ev.ts_ms[idx].astype("datetime64[ms]"), unit="ms")
    r = rng.integers(0, 1 << 30, size=(4, len(idx)))
    cols = zip(idx.tolist(), ev.user[idx].tolist(), stamps.tolist(), ev.result[idx].tolist(),
               ev.count[idx].tolist(), ev.malformed[idx].tolist(), *r.tolist())
    out = []
    for i, u, stamp, result, count, bad, a, b, c, d in cols:
        svc = SERVICES[a % 3]
        line = _LINE % (
            9, svc, "null" if u < 0 else f'"u{u:06d}"', stamp.replace("T", " "),
            _ACCESS[b % 7], svc, c % 997, _RES_TYPES[d % 4], _ACCESS[b % 7],
            result, svc, 20 + a % 40, 1 + b % 5,
            a % 255, b % 255, c % 255, d % 997, svc, d % HOSTS, a, i,
            i, count, c % 50,
        )
        if bad:
            # cut before reqUser or drop JSON entirely: no field survives
            line = line[:17] if b % 2 else "RANGER-AUDIT <corrupt %x>" % a
        out.append(line)
    return out


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


# ---------------------------------------------------------------------------
# backfill: a multi-day audit tree, written once
# ---------------------------------------------------------------------------


@dataclass
class BackfillInput:
    root: str
    min_date: str
    files: list[str]
    file_kept: np.ndarray  # per file: in a date dir >= min_date
    events: Events

    @property
    def valid_lines(self) -> int:
        return int(self.events.valid(self.file_kept).sum())


def make_backfill(seed: int, root: str, n_records: int = BACKFILL_RECORDS) -> BackfillInput:
    """``BACKFILL_DAYS`` date dirs × services × hosts files, the oldest
    ``BACKFILL_PRUNED_DAYS`` days below ``min_date``."""
    rng = np.random.default_rng([seed, 1])
    start = _epoch_ms(BACKFILL_START)
    per_day = len(SERVICES) * HOSTS
    n_files = BACKFILL_DAYS * per_day
    ts = start + rng.integers(0, BACKFILL_DAYS * 86_400_000, size=n_records)
    ts.sort()
    day = (ts - start) // 86_400_000
    file = day * per_day + rng.integers(0, per_day, size=n_records)
    users = _zipf_users(rng, n_records, BACKFILL_USERS, BACKFILL_ZIPF)
    ev = Events.draw(rng, users, ts, file)

    files, kept = [], np.zeros(n_files, dtype=bool)
    min_date = day_name(start + BACKFILL_PRUNED_DAYS * 86_400_000)
    order = np.argsort(file, kind="stable")
    bounds = np.searchsorted(file[order], np.arange(n_files + 1))
    for f in range(n_files):
        d, k = divmod(f, per_day)
        date = day_name(start + d * 86_400_000)
        svc = SERVICES[k % len(SERVICES)]
        path = os.path.join(root, svc, date, f"{svc}_ranger_audit_host{k // len(SERVICES)}.log")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        write_lines(path, render_lines(ev, order[bounds[f]:bounds[f + 1]], rng))
        files.append(path)
        kept[f] = date >= min_date
    return BackfillInput(root, min_date, files, kept, ev)


# ---------------------------------------------------------------------------
# live_tail: pre-rendered files landed by rename(2) on a schedule
# ---------------------------------------------------------------------------


@dataclass
class LiveInput:
    staged: list[str]  # pre-rendered files, landing order; last = sentinel
    targets: list[str]  # where each lands inside the watched tree
    file_max_ts: np.ndarray  # per regular file: its max event time
    events: Events
    primer: tuple[str, str]  # (staged, target) landed before the schedule

    @property
    def n_regular(self) -> int:
        return len(self.staged) - 1


def make_live(seed: int, stage_dir: str, watch_dir: str, n_files: int) -> LiveInput:
    """``n_files`` regular files, each ``LIVE_EVENTS_PER_FILE`` events over
    ``LIVE_EVENT_HOURS_PER_FILE`` hours of event time, plus a primer (one
    allowed event before the first file) and a sentinel (one allowed event
    ``LIVE_SENTINEL_AFTER_S`` past the last) that closes every session."""
    rng = np.random.default_rng([seed, 2])
    span = LIVE_EVENT_HOURS_PER_FILE * 3_600_000
    start = _epoch_ms(LIVE_START)
    per = LIVE_EVENTS_PER_FILE
    n = n_files * per
    file = np.repeat(np.arange(n_files), per)
    ts = start + file * span + np.sort(rng.integers(0, span, size=(n_files, per)), axis=1).ravel()
    users = _zipf_users(rng, n, LIVE_USERS, LIVE_ZIPF)
    ev = Events.draw(rng, users, ts, file)
    # primer and sentinel: allowed events of their own users, never emitted
    # (0 denies); file index n_files + 1 / n_files in the event list
    extra_user = np.array([LIVE_USERS, LIVE_USERS + 1])
    extra_ts = np.array([start - 3_600_000, int(ts.max()) + LIVE_SENTINEL_AFTER_S * 1000])
    ev = Events(
        user=np.concatenate([ev.user, extra_user]),
        ts_ms=np.concatenate([ev.ts_ms, extra_ts]),
        result=np.concatenate([ev.result, [1, 1]]),
        count=np.concatenate([ev.count, [1, 1]]),
        malformed=np.concatenate([ev.malformed, [False, False]]),
        file=np.concatenate([ev.file, [n_files + 1, n_files]]),
    )
    os.makedirs(stage_dir, exist_ok=True)
    staged, targets = [], []
    for f in range(n_files + 2):
        idx = np.flatnonzero(ev.file == f) if f >= n_files else np.arange(f * per, (f + 1) * per)
        first = int(ev.ts_ms[idx].min())
        svc = SERVICES[f % len(SERVICES)]
        src = os.path.join(stage_dir, f"{f:06d}.log")
        dst = os.path.join(watch_dir, svc, day_name(first), f"{svc}_ranger_audit_{f:06d}.log")
        write_lines(src, render_lines(ev, idx, rng))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        staged.append(src)
        targets.append(dst)
    file_max = ev.ts_ms[: n_files * per].reshape(n_files, per).max(axis=1)
    primer = (staged.pop(), targets.pop())
    return LiveInput(staged, targets, file_max, ev, primer)


# ---------------------------------------------------------------------------
# corpus tables for the corpus_ops query pass
# ---------------------------------------------------------------------------

_WORDS = (
    "spark stream batch query table column row key value hash join sort "
    "merge filter scan group agg window part line order customer data "
    "vector fast slow big small the a"
).split()


def make_corpus(seed: int, out_dir: str) -> dict[str, int]:
    """The five tables the corpus queries read, shaped like the repo's
    sf0.01 fixture: orders/lineitem (co-purchase graph, per-priority price
    spread), documents with planted exact and near duplicates, clustered
    embeddings, and an events stream. Returns row counts per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_orders, n_items, n_cust, n_part = 15_000, 60_000, 1_500, 2_000
    t0 = np.datetime64("1995-01-01", "us")
    day_us = 86_400_000_000
    tables = {
        "orders": pa.table({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": t0 + rng.integers(0, 2500, n_orders) * day_us,
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_orders, n_items),
            "l_partkey": rng.integers(0, n_part, n_items),
            "l_suppkey": rng.integers(0, 100, n_items),
            "l_linenumber": rng.integers(1, 8, n_items).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100_000, n_items), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, n_items), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_items), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_items),
            "l_linestatus": rng.choice(["O", "F"], n_items),
            "l_shipdate": t0 + rng.integers(0, 2500, n_items) * day_us,
        }),
    }

    # documents and embeddings are small: the DuckDB oracles of the dedup
    # queries cost seconds per hundred rows (pairwise lambdas, recursive
    # closure), and they run after the pass inside the traced run
    n_docs = 100
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i >= 10 and r < 0.1:  # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)])
        elif i >= 10 and r < 0.3:  # near duplicate: a few words swapped
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = _WORDS[rng.integers(0, len(_WORDS))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, rng.integers(12, 50))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_vec, dim = 100, 64
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n_vec)
    vec = (centers[label] * 0.35 + rng.normal(size=(n_vec, dim))).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })

    n_ev = 10_000
    ev_ts = np.sort(np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * day_us, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
