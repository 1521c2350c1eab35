"""Seeded slow-log corpora and their ground truth.

Two corpus kinds, both written as MySQL/Percona slow-log text:

* ``dense``   — the 30 statement templates of
  ``scripts/gen_slowlog_fixture.py``; timestamps ~30 ms apart, so one
  (digest, minute) class holds ~65 events. Clean input: no malformed
  records, ~1% administrator commands. Fingerprinted with the regex
  chain, so the expected digests come from ``fingerprint_chain_py``.
* ``diverse`` — thousands of query shapes over ~25 days, so a class
  holds ~1 event. ~30% of statements carry a chain-divergence
  construct (doubled or escaped quote, apostrophe in a comment,
  multi-line block comment) and ~1% of records are malformed (torn
  header, header-only record, non-UTF-8 bytes, mid-file rotation
  banner). Fingerprinted with the router, so the expected digests come
  from the state machine ``fingerprint_py``.

The generator knows what every record is meant to be, so the ground
truth is written beside the log without parsing it: record, event,
administrator and rejected counts, the total ``query_time`` of the
events that reach the class table, the expected event count of every
(digest, minute) class and the exact ``query_time`` p95 of a fixed
sample of classes. Only the fingerprint → digest step reuses the repo's
Python reference implementations.

Corpora are cached by (kind, seed, size) under the cache directory,
which keeps the ``CACHE_KEEP`` most recently used.
"""

from __future__ import annotations

import importlib.util
import json
import os
import random
from dataclasses import dataclass
from datetime import datetime, timezone

from slowlog2clickhouse_spark.functions.fingerprint import (
    digest_py,
    fingerprint_chain_py,
    fingerprint_py,
)

BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z
DIVERSE_SPAN_S = 25 * 86400  # ~25 date partitions in the class table
P95_SAMPLE = 40  # classes whose p95 is checked exactly
FORMAT_VERSION = 1  # bump when the generator's output changes
CACHE_KEEP = 8  # newest corpora kept in the cache; older ones are deleted

USERS = ["app", "batch", "analytics", "root", "report", "etl", "web", "cron"]
HOSTS = [(f"web{k:02d}", f"10.0.{k // 8}.{k % 8 + 10}") for k in range(24)]
DBS = ["shop", "warehouse", "analytics", "billing", "auth", "search"]
WORDS = ["abc", "def", "xyz", "north", "south", "paid", "open", "closed"]

ROTATION_BANNER = (
    "/usr/sbin/mysqld, Version: 8.0.36-28 (Percona Server (GPL), Release 28,"
    " Revision abcdef0). started with:\n"
    "Tcp port: 3306  Unix socket: /var/lib/mysql/mysql.sock\n"
    "Time                 Id Command    Argument"
)

# shapes of the diverse corpus: identifiers vary per shape, literals per event
DIVERSE_SHAPES = [
    "SELECT {c1}, {c2} FROM {t} WHERE {c3} = {i} AND {c4} = '{s}'",
    "SELECT count(*) FROM {t} WHERE {c1} IN ({ints})",
    "UPDATE {t} SET {c1} = {i}, {c2} = '{s}' WHERE id = {i2}",
    "DELETE FROM {t} WHERE {c1} < {i} LIMIT {i2}",
    "INSERT INTO {t} ({c1}, {c2}) VALUES ({i}, '{s}'), ({i2}, '{s2}')",
    "SELECT a.{c1}, b.{c2} FROM {t} a JOIN {t2} b ON a.id = b.{c3} WHERE a.{c4} > {f}",
    "SELECT {c1}, sum({c2})\nFROM {t}\nWHERE {c3} BETWEEN {i} AND {i2}\nGROUP BY {c1}",
    "SELECT * FROM {t} WHERE {c1} = '{s}' ORDER BY {c2} DESC LIMIT {i}",
]
COLUMNS = [f"col_{w}" for w in ("id", "ts", "qty", "name", "state", "owner",
                                 "kind", "price", "day", "ref", "score", "tag")]
N_TABLES = 600  # 8 shapes x 600 tables x column choices: thousands of shapes


@dataclass(frozen=True)
class Corpus:
    log_path: str
    truth_path: str

    def truth(self) -> dict:
        with open(self.truth_path) as fh:
            return json.load(fh)


def _dense_templates() -> list[str]:
    """The fixture generator's statement templates (loaded, not copied)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "scripts", "gen_slowlog_fixture.py")
    spec = importlib.util.spec_from_file_location("_gen_slowlog_fixture", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return list(mod.TEMPLATES)


def _values(rng: random.Random) -> dict:
    return {
        "ints": ", ".join(str(rng.randint(1, 9999)) for _ in range(rng.randint(1, 6))),
        "i": rng.randint(1, 10**6),
        "i2": rng.randint(1, 10**6),
        "f": round(rng.uniform(0, 100), 3),
        "f2": round(rng.uniform(0, 100), 3),
        "s": rng.choice(WORDS),
        "s2": rng.choice(WORDS),
    }


def _diverse_statement(rng: random.Random) -> str:
    cols = rng.sample(COLUMNS, 4)
    stmt = rng.choice(DIVERSE_SHAPES).format(
        t=f"tbl_{rng.randrange(N_TABLES)}",
        t2=f"tbl_{rng.randrange(N_TABLES)}",
        c1=cols[0], c2=cols[1], c3=cols[2], c4=cols[3],
        **_values(rng),
    )
    if rng.random() < 0.30:  # a construct the regex chain gets wrong
        construct = rng.randrange(4)
        if construct == 0:
            stmt += " AND note = 'O''Brien'"
        elif construct == 1:
            stmt += " AND note = 'it\\'s'"
        elif construct == 2:
            stmt = "/* don't cache: report's query */ " + stmt
        else:
            stmt = "/* generated by\n   orm v2 */ " + stmt
    return stmt


def _percentile(values: list[float], p: float) -> float:
    """Exact percentile with linear interpolation (Spark ``percentile``)."""
    v = sorted(values)
    pos = p * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (pos - lo) * (v[hi] - v[lo])


class _Writer:
    """Accumulates log bytes and the ground truth of what was written."""

    def __init__(self, fingerprint):
        self.fingerprint = fingerprint
        self.chunks: list[bytes] = []
        self.records = 0  # chunks the record splitter will return
        self.events = 0  # records the parser turns into an event
        self.admin = 0
        self.no_query = 0  # events without a statement (dropped by aggregation)
        self.classes: dict[str, list[float]] = {}
        self._fp_cache: dict[str, str] = {}

    def raw(self, text: str | bytes, *, record: bool, event: bool) -> None:
        self.chunks.append(text if isinstance(text, bytes) else text.encode())
        self.records += record
        self.events += event

    def header(self, rng: random.Random, ts_us: int, extended: bool) -> list[str]:
        sec, us = divmod(ts_us, 1_000_000)
        stamp = datetime.fromtimestamp(sec, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
        user = rng.choice(USERS)
        host, ip = rng.choice(HOSTS)
        lines = [
            f"# Time: {stamp}.{us:06d}Z",
            f"# User@Host: {user}[{user}] @ {host} [{ip}]  Id: {rng.randint(1, 99999):5d}",
            f"# Schema: {rng.choice(DBS)}  Last_errno: 0  Killed: 0",
        ]
        if extended:
            lines += [
                f"# Rows_affected: {rng.randint(0, 10)}  Bytes_sent: {rng.randint(100, 100000)}",
                f"# Tmp_tables: {rng.randint(0, 3)}  Tmp_disk_tables: 0"
                f"  Tmp_table_sizes: {rng.choice([0, 16384, 262144])}",
                f"# QC_Hit: No  Full_scan: {rng.choice(['Yes', 'No'])}  Full_join: No"
                f"  Tmp_table: {rng.choice(['Yes', 'No'])}  Tmp_table_on_disk: No",
                "# Filesort: No  Filesort_on_disk: No  Merge_passes: 0",
                f"# InnoDB_IO_r_ops: {rng.randint(0, 50)}  InnoDB_IO_r_bytes:"
                f" {rng.randint(0, 819200)}  InnoDB_IO_r_wait: {rng.uniform(0, 0.01):.6f}",
                "# InnoDB_rec_lock_wait: 0.000000  InnoDB_queue_wait: 0.000000",
                f"# InnoDB_pages_distinct: {rng.randint(1, 64)}",
            ]
        return lines

    def event(self, rng: random.Random, ts_us: int, stmt: str, *,
              extended: bool = True, tail: str = "", raw_stmt: bytes | None = None) -> None:
        """One query event; ``raw_stmt`` replaces the statement's bytes
        (its decoded text must fingerprint like ``stmt``)."""
        qt = float(f"{rng.expovariate(5.0):.6f}")
        lines = self.header(rng, ts_us, extended)
        lines.insert(
            3,
            f"# Query_time: {qt:.6f}  Lock_time: {rng.uniform(0, 0.01):.6f}"
            f"  Rows_sent: {rng.randint(0, 100)}  Rows_examined: {rng.randint(0, 10000)}",
        )
        lines.append(f"SET timestamp={ts_us // 1_000_000};")
        head = ("\n".join(lines) + "\n").encode()
        body = (raw_stmt if raw_stmt is not None else stmt.encode()) + b";\n"
        self.raw(head + body + (tail.encode() + b"\n" if tail else b""),
                 record=True, event=True)
        fp = self._fp_cache.get(stmt)
        if fp is None:
            fp = self._fp_cache[stmt] = digest_py(self.fingerprint(stmt))
        key = f"{fp}|{ts_us // 60_000_000 * 60}"
        self.classes.setdefault(key, []).append(qt)

    def admin_command(self, rng: random.Random, ts_us: int) -> None:
        lines = self.header(rng, ts_us, extended=False)[:2]
        lines += [
            f"# Query_time: {rng.uniform(0, 0.001):.6f}  Lock_time: 0.000000"
            "  Rows_sent: 0  Rows_examined: 0",
            "# administrator command: Quit;",
        ]
        self.raw("\n".join(lines) + "\n", record=True, event=True)
        self.admin += 1

    def header_only(self, rng: random.Random, ts_us: int) -> None:
        """A record cut off before its statement: an event, but no class."""
        self.raw("\n".join(self.header(rng, ts_us, extended=False)) + "\n",
                 record=True, event=True)
        self.no_query += 1

    def truth(self, kind: str, seed: int, mode: str) -> dict:
        keys = sorted(self.classes)
        step = max(1, len(keys) // P95_SAMPLE)
        return {
            "format": FORMAT_VERSION,
            "kind": kind,
            "seed": seed,
            "fingerprint": mode,
            "log_bytes": sum(map(len, self.chunks)),
            "records": self.records,
            "events": self.events,
            "rejected": self.records - self.events,
            "admin": self.admin,
            "no_query": self.no_query,
            "class_events": sum(len(v) for v in self.classes.values()),
            "total_query_time": sum(sum(v) for v in self.classes.values()),
            "classes": {k: len(self.classes[k]) for k in keys},
            "p95_sample": {k: _percentile(self.classes[k], 0.95) for k in keys[::step]},
        }


def _generate_dense(w: _Writer, rng: random.Random, n: int) -> None:
    templates = _dense_templates()
    ts_us = BASE_EPOCH * 1_000_000
    for _ in range(n):
        ts_us += rng.randint(20_000, 40_000)
        if rng.random() < 0.01:
            w.admin_command(rng, ts_us)
            continue
        w.event(rng, ts_us, rng.choice(templates).format(**_values(rng)))


def _generate_diverse(w: _Writer, rng: random.Random, n: int) -> None:
    w.raw(ROTATION_BANNER + "\n", record=True, event=False)  # file-head preamble
    mean_gap_us = DIVERSE_SPAN_S * 1_000_000 // n
    ts_us = BASE_EPOCH * 1_000_000
    for _ in range(n):
        ts_us += rng.randint(1, 2 * mean_gap_us)
        r = rng.random()
        if r < 0.01:
            w.admin_command(rng, ts_us)
        elif r < 0.0125:  # torn header: no timestamp, no metric → rejected
            w.raw("# Time: 2024-01-0\n# Query_ti\n", record=True, event=False)
        elif r < 0.015:  # header-only record: event without statement
            w.header_only(rng, ts_us)
        elif r < 0.0175:  # invalid UTF-8 inside a string literal
            payload = f"{rng.randint(1, 10**6)}-payload"
            stmt = f"INSERT INTO blobs VALUES ('�{payload}')"
            w.event(rng, ts_us, stmt,
                    raw_stmt=b"INSERT INTO blobs VALUES ('\xff" + payload.encode() + b"')")
        elif r < 0.02:  # server restart banner inside a record
            w.event(rng, ts_us, _diverse_statement(rng), tail=ROTATION_BANNER)
        else:
            w.event(rng, ts_us, _diverse_statement(rng), extended=rng.random() < 0.6)


KINDS = {
    "dense": ("chain", fingerprint_chain_py, _generate_dense),
    "diverse": ("routed", fingerprint_py, _generate_diverse),
}


def build(kind: str, seed: int, n_events: int, cache_dir: str) -> Corpus:
    """Write (or reuse) the ``kind`` corpus for ``seed`` and its truth."""
    mode, fingerprint, generate = KINDS[kind]
    stem = os.path.join(cache_dir, f"{kind}-s{seed}-n{n_events}-v{FORMAT_VERSION}")
    corpus = Corpus(stem + ".log", stem + ".truth.json")
    if os.path.exists(corpus.truth_path) and os.path.exists(corpus.log_path):
        os.utime(corpus.log_path)  # mark as recently used
        return corpus
    os.makedirs(cache_dir, exist_ok=True)
    w = _Writer(fingerprint)
    generate(w, random.Random(f"{kind}:{seed}"), n_events)
    tmp = f"{stem}.{os.getpid()}.tmp"
    with open(tmp, "wb") as fh:
        fh.writelines(w.chunks)
    os.replace(tmp, corpus.log_path)
    with open(tmp, "w") as fh:
        json.dump(w.truth(kind, seed, mode), fh)
    os.replace(tmp, corpus.truth_path)
    _prune(cache_dir)
    return corpus


def _prune(cache_dir: str) -> None:
    logs = [os.path.join(cache_dir, f) for f in os.listdir(cache_dir) if f.endswith(".log")]
    for log in sorted(logs, key=os.path.getmtime)[:-CACHE_KEEP]:
        for path in (log, log[: -len(".log")] + ".truth.json"):
            if os.path.exists(path):
                os.remove(path)
