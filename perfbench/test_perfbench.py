"""Self-tests of the benchmark (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import corpus as corpora
from perfbench.checks import check_class_table, same_rows
from perfbench.run import (
    QUERY_KINDS,
    RUNGS,
    end_to_end_metrics,
    layer_metrics,
    steal_guarded_median,
)
from perfbench.spans import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bytes(kind: str, seed: int, tmp_path, sub: str) -> bytes:
    c = corpora.build(kind, seed, 400, str(tmp_path / sub))
    with open(c.log_path, "rb") as fh:
        return fh.read()


@pytest.mark.parametrize("kind", sorted(corpora.KINDS))
def test_generator_is_byte_identical_per_seed(kind, tmp_path):
    a = _bytes(kind, 7, tmp_path, "a")
    assert a == _bytes(kind, 7, tmp_path, "b")
    assert a != _bytes(kind, 8, tmp_path, "c")


@pytest.mark.parametrize("kind", sorted(corpora.KINDS))
def test_truth_accounts_for_every_record(kind, tmp_path):
    t = corpora.build(kind, 3, 2000, str(tmp_path)).truth()
    assert t["records"] == t["events"] + t["rejected"]
    assert t["class_events"] == t["events"] - t["admin"] - t["no_query"]
    assert sum(t["classes"].values()) == t["class_events"]
    if kind == "diverse":
        assert t["rejected"] > 0 and t["no_query"] > 0


def _class_table(truth: dict, out_dir) -> None:
    """A class table that agrees with ``truth``, in the sink's layout."""
    by_day: dict[str, list] = {}
    total = truth["total_query_time"]
    for key, n in sorted(truth["classes"].items()):
        digest, minute = key.split("|")
        ts = datetime.fromtimestamp(int(minute), tz=timezone.utc).replace(tzinfo=None)
        row = (digest, ts, n, total, truth["p95_sample"].get(key, 0.0))
        by_day.setdefault(ts.date().isoformat(), []).append(row)
        total = 0.0  # the whole sum on the first class
    for day, rows in by_day.items():
        cols = list(zip(*rows))
        table = pa.table({
            "digest": pa.array(cols[0], pa.string()),
            "period_start": pa.array(cols[1], pa.timestamp("us")),
            "num_queries": pa.array(cols[2], pa.int64()),
            "m_query_time_sum": pa.array(cols[3], pa.float64()),
            "m_query_time_p95": pa.array(cols[4], pa.float64()),
        })
        part = out_dir / f"period_date={day}"
        part.mkdir(parents=True)
        pq.write_table(table, part / "part-0.parquet")


def _corrupt(out_dir, column: str, fn) -> None:
    path = sorted(out_dir.glob("period_date=*/part-0.parquet"))[0]
    t = pq.read_table(path)
    values = t.column(column).to_pylist()
    values[0] = fn(values[0])
    idx = t.schema.get_field_index(column)
    pq.write_table(t.set_column(idx, column, pa.array(values, t.schema.field(column).type)), path)


@pytest.mark.parametrize("column,fn", [
    ("num_queries", lambda n: n + 1),
    ("m_query_time_sum", lambda s: s + 0.5),
    ("digest", lambda d: "0" * 16),
    ("m_query_time_p95", lambda p: p + 1e-3),  # row 0 is in the p95 sample
])
def test_output_check_rejects_a_corrupted_class_table(column, fn, tmp_path):
    truth = corpora.build("dense", 5, 3000, str(tmp_path / "c")).truth()
    out = tmp_path / "classes"
    _class_table(truth, out)
    assert check_class_table(str(out), truth) == []
    _corrupt(out, column, fn)
    assert check_class_table(str(out), truth)


def test_same_rows_tolerates_float_rounding_only():
    assert same_rows([("a", 1, 0.1 + 0.2)], [("a", 1, 0.3)])
    assert not same_rows([("a", 1, 0.31)], [("a", 1, 0.3)])
    assert not same_rows([("a", 2, 0.3)], [("a", 1, 0.3)])
    assert not same_rows([], [("a", 1, 0.3)])


def _declared(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def test_end_to_end_metric_names_match_benchmark_json():
    got = end_to_end_metrics(12.5, 0.25)
    assert {k: v["unit"] for k, v in got.items()} == _declared("end_to_end")
    assert all(v["value"] > 0 for v in got.values())


def test_per_layer_metric_names_match_benchmark_json():
    tr = Tracer("t", enabled=True)
    t = 1000.0
    for name in ["session.start", "session.warmup"] + [f"rung.{r}" for r in RUNGS] + [
        f"query.{k}" for k in QUERY_KINDS
    ]:
        tr.spans.append(Span(name, t, t + 1.0, None, "t"))
        t += 2.0
    truth = {"classes": {"A|60": 2, "B|60": 1}, "class_events": 3}
    counts = {"records": 5, "events": 4, "udf_rows": 1, "sink_files": 2, "sink_bytes": 100}
    got = layer_metrics(tr, truth, counts, {}, 512.0, 0.1)
    assert {k: v["unit"] for k, v in got.items()} == _declared("per_layer")



def test_steal_guard_keeps_clean_operations():
    times = [1.0, 2.0, 3.0, 9.0]
    assert steal_guarded_median(times, [0.0, 1.0, 2.0, 30.0]) == (2.0, 3)
    # fewer than half clean: the least-stolen half; unmeasured counts as stolen
    assert steal_guarded_median(times, [9.0, 8.0, None, 6.0]) == (5.5, 2)
