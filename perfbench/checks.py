"""Output checks, run outside the timed region with DuckDB.

* :func:`check_class_table` compares a class table written by
  ``sink_classes_parquet`` with the corpus ground truth: the exact
  ``num_queries`` of every (digest, minute) class, the class count, the
  total ``query_time`` and the exact ``query_time`` p95 of a sample of
  classes.
* :class:`DashboardOracle` recomputes each dashboard query over the same
  parquet files, so a Spark answer can be compared row by row.

Both return a list of problems; an empty list means the output is right.
"""

from __future__ import annotations

import math

import duckdb

REL_TOL = 1e-9
MAX_PROBLEMS = 5


def _parquet(out_dir: str) -> str:
    return f"read_parquet('{out_dir}/*/*.parquet', hive_partitioning = true)"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 1")
    return con


def check_class_table(out_dir: str, truth: dict) -> list[str]:
    con = _connect()
    try:
        rows = con.execute(
            "SELECT digest || '|' || CAST(epoch(period_start) AS BIGINT), num_queries,"
            f" m_query_time_sum, m_query_time_p95 FROM {_parquet(out_dir)}"
        ).fetchall()
    finally:
        con.close()
    problems: list[str] = []
    expected = truth["classes"]
    if len(rows) != len(expected):
        problems.append(f"class count {len(rows)} != {len(expected)}")
    got = {key: (n, p95) for key, n, _, p95 in rows}
    for key, n in expected.items():
        if key not in got:
            problems.append(f"class {key} missing")
        elif got[key][0] != n:
            problems.append(f"class {key} num_queries {got[key][0]} != {n}")
        if len(problems) >= MAX_PROBLEMS:
            return problems
    total = math.fsum(r[2] for r in rows)
    if not math.isclose(total, truth["total_query_time"], rel_tol=REL_TOL):
        problems.append(f"sum(m_query_time_sum) {total} != {truth['total_query_time']}")
    for key, p95 in truth["p95_sample"].items():
        if key in got and not math.isclose(got[key][1], p95, rel_tol=REL_TOL, abs_tol=1e-12):
            problems.append(f"class {key} m_query_time_p95 {got[key][1]} != {p95}")
    return problems[:MAX_PROBLEMS]


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=REL_TOL)
    return a == b


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


# DuckDB renderings of the dashboard queries in run.py; same columns,
# same order (top_digests: total query time desc, digest asc)
DASHBOARD_SQL = {
    "top": (
        "SELECT digest, min(fingerprint), sum(num_queries), sum(m_query_time_sum),"
        " max(m_query_time_max) FROM {t} WHERE period_date = DATE '{day}'"
        " GROUP BY digest ORDER BY 4 DESC NULLS LAST, digest LIMIT {k}"
    ),
    "drilldown": (
        "SELECT period_start, num_queries, m_query_time_sum, m_query_time_p95"
        " FROM {t} WHERE digest = '{digest}' ORDER BY period_start"
    ),
    "dimensions": (
        "SELECT {dim}, sum(num_queries), sum(m_query_time_sum) FROM {t}"
        " WHERE period_date = DATE '{day}' GROUP BY {dim} ORDER BY {dim} NULLS FIRST"
    ),
}


class DashboardOracle:
    """Memoised DuckDB answers for one class table."""

    def __init__(self, out_dir: str):
        self.table = _parquet(out_dir)
        self.con = _connect()
        self._memo: dict[tuple, list[tuple]] = {}

    def answer(self, kind: str, params: dict) -> list[tuple]:
        key = (kind, tuple(sorted(params.items())))
        if key not in self._memo:
            sql = DASHBOARD_SQL[kind].format(t=self.table, **params)
            self._memo[key] = [tuple(r) for r in self.con.execute(sql).fetchall()]
        return self._memo[key]

    def close(self) -> None:
        self.con.close()
