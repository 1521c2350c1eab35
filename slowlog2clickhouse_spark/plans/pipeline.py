"""The reference pipeline, Spark-native: slow log → query classes.

Reference flow (main.go:~110-300 + [go-mysql] event/{aggregator,class,
metrics}.go [R:H], reconstructed): for each parsed event, fingerprint
→ digest, accumulate per-(digest, 1-minute period) metric vectors,
finalize cnt/sum/min/max/avg/med/p95 (+ example query of the worst
execution) at each period boundary, flush wide rows to ClickHouse.

Here the whole thing is ONE declarative plan: parse (sources/slowlog),
fingerprint (codegen'd regex chain), tumbling-window groupBy with the
full stat battery, `max_by` for the example, partitioned parquet sink.
Catalyst gives partial+final aggregation automatically — shuffle
volume is |classes × periods|, not |events| (the same pre-aggregation
property the reference gets from its in-memory map, but distributed).

100 TB notes:
 * exact median/p95/p99 buffer per-group values; `percentiles='approx'`
   switches to approx_percentile (t-digest-style sketch) for scale —
   exact is kept as the oracle-checked default at test SF.
 * the sink partitions by period_date (mirrors MergeTree
   `PARTITION BY toDate(period_start)` — README DDL [R:M]) and sorts
   within partitions by (digest, period_start) (mirrors the MergeTree
   primary key → parquet row-group stats give the same data-skipping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slowlog2clickhouse_spark.sources.slowlog import (
    BOOL_METRICS,
    NUMBER_METRICS,
    TIME_METRICS,
    class_events,
    is_class_event,
    parse_slowlog,
)

# fixture tests exercise these families (FIXTURES.md §3); the full
# inventory is a parameter so production runs cover all of §1.1
DEFAULT_STAT_METRICS = (
    "query_time",
    "lock_time",
    "rows_sent",
    "rows_examined",
    "bytes_sent",
)


def class_agg_exprs(
    metrics=DEFAULT_STAT_METRICS,
    bools=BOOL_METRICS,
    percentiles: str = "exact",
    example_tiebreak: str = "record_no",
) -> list:
    """The per-class stat battery ([go-mysql] event/metrics.go [R:H]).

    ``example_tiebreak``: the worst-execution pick on a query_time tie.
    ``record_no`` mirrors the reference (last-read wins within a batch);
    ``query`` is a content-deterministic tiebreak independent of read
    order/partitioning — the driver-facing ops use it so the class row
    hashes identically against a SQL oracle on any executor layout.
    """
    tb = {"record_no": "record_no", "query": "query"}[example_tiebreak]
    aggs = [
        F.count("*").alias("num_queries"),
        F.min("fingerprint").alias("fingerprint"),
        F.min("db").alias("db"),
        F.min("user").alias("user"),
        F.min("host").alias("host"),
        # example = query text of the worst execution (max query_time,
        # record_no tiebreak) — event/class.go example logic [R:H]
        F.expr(f"max_by(query, struct(query_time, {tb}))").alias("example"),
        # labels: the qan-api2 D5 nested k/v column — the unrecognized
        # `# Key: value` pairs of the class's worst execution ride along
        # to the sink as map<string,string>
        F.expr(f"max_by(extra_metrics, struct(query_time, {tb}))").alias("labels"),
        # Percona Log_slow_rate_limit upscaling: with rate_type='query'
        # only 1/N sessions are logged, so each logged event stands for
        # rate_limit executions ([go-mysql] log/log.go RateType/RateLimit)
        F.sum(
            F.when(
                (F.col("rate_type") == "query") & (F.col("rate_limit") > 1),
                F.col("rate_limit"),
            ).otherwise(F.lit(1))
        ).alias("num_queries_scaled"),
    ]
    for m in metrics:
        col = F.col(m)
        aggs += [
            F.count(col).alias(f"m_{m}_cnt"),
            F.sum(col).alias(f"m_{m}_sum"),
            F.min(col).alias(f"m_{m}_min"),
            F.max(col).alias(f"m_{m}_max"),
            (F.sum(col) / F.count(col)).alias(f"m_{m}_avg"),
        ]
        if percentiles == "exact":
            aggs += [
                F.expr(f"percentile({m}, 0.5)").alias(f"m_{m}_med"),
                F.expr(f"percentile({m}, 0.95)").alias(f"m_{m}_p95"),
                F.expr(f"percentile({m}, 0.99)").alias(f"m_{m}_p99"),
            ]
        else:  # sketch-based, bounded memory per group — the 100 TB path
            aggs += [
                F.expr(f"approx_percentile({m}, 0.5)").alias(f"m_{m}_med"),
                F.expr(f"approx_percentile({m}, 0.95)").alias(f"m_{m}_p95"),
                F.expr(f"approx_percentile({m}, 0.99)").alias(f"m_{m}_p99"),
            ]
    for b in bools:
        aggs.append(F.sum(F.col(b).cast("long")).alias(f"{b}_sum"))
    return aggs


def _aggregate(events, keys, dims, period, metrics, percentiles, example_tiebreak):
    # non-class events are dropped here too: callers may pass events
    # that did not come through class_events
    return (
        events.where(is_class_event())
        .groupBy(*keys, F.date_trunc(period, F.col("ts")).alias("period_start"))
        .agg(
            *class_agg_exprs(
                metrics=metrics,
                percentiles=percentiles,
                example_tiebreak=example_tiebreak,
            )
        )
        .withColumns(
            {
                **dims,
                "period_length": F.lit(
                    {"minute": 60, "hour": 3600, "day": 86400}[period]
                ).cast("long"),
            }
        )
    )


def aggregate_classes(
    events: DataFrame,
    period: str = "minute",
    metrics=DEFAULT_STAT_METRICS,
    percentiles: str = "exact",
    example_tiebreak: str = "record_no",
) -> DataFrame:
    """events (+fingerprint/digest) → one row per (digest, period)."""
    return _aggregate(
        events, [F.col("digest")], {}, period, metrics, percentiles, example_tiebreak
    )


def aggregate_global(
    events: DataFrame,
    period: str = "minute",
    metrics=DEFAULT_STAT_METRICS,
    percentiles: str = "exact",
    example_tiebreak: str = "record_no",
) -> DataFrame:
    """Whole-period rollup beside the per-class rows — the reference's
    ``Result.Global`` ([go-mysql] event/global.go [R:H]): same stat
    battery, grouped by period only, digest/fingerprint pinned to the
    GLOBAL sentinel (db/user/host stay the period's minimum). Partial
    aggregation makes this a second cheap pass over the same shuffle
    keyspace (|periods| rows out)."""
    dims = {"digest": F.lit("GLOBAL"), "fingerprint": F.lit("GLOBAL")}
    return _aggregate(
        events, [], dims, period, metrics, percentiles, example_tiebreak
    )


def ingest_slowlog(
    spark: SparkSession,
    path: str,
    period: str = "minute",
    metrics=DEFAULT_STAT_METRICS,
    percentiles: str = "exact",
    example_tiebreak: str = "record_no",
    fingerprint: str = "chain",
) -> DataFrame:
    """Full batch pipeline: log file(s) → query-class rows.
    ``fingerprint`` picks the normalization path: "chain" (codegen'd,
    default), "routed" (chain + state-machine UDF only on flagged
    rows — what the CLI warning tells a user to re-run with), or
    "python" (state machine everywhere)."""
    return aggregate_classes(
        class_events(parse_slowlog(spark, path), mode=fingerprint),
        period=period,
        metrics=metrics,
        percentiles=percentiles,
        example_tiebreak=example_tiebreak,
    )


def sink_classes_parquet(classes: DataFrame, out_path: str) -> None:
    """Partitioned, sorted sink mirroring the ClickHouse MergeTree
    layout (PARTITION BY toDate(period_start), ORDER BY (digest,
    period_start)): partition pruning on date, row-group skipping on
    digest."""
    (
        classes.withColumn("period_date", F.to_date("period_start"))
        .repartition("period_date")
        .sortWithinPartitions("digest", "period_start")
        .write.mode("overwrite")
        .partitionBy("period_date")
        .parquet(out_path)
    )


def top_digests(classes: DataFrame, k: int = 10) -> DataFrame:
    """The M2 end-to-end slice (SURVEY.md §7): top-K digests by total
    query time — THE canonical QAN question."""
    return (
        classes.groupBy("digest")
        .agg(
            F.min("fingerprint").alias("fingerprint"),
            F.sum("num_queries").alias("total_queries"),
            F.sum("m_query_time_sum").alias("total_query_time"),
            F.max("m_query_time_max").alias("worst_query_time"),
        )
        .orderBy(F.col("total_query_time").desc_nulls_last(), F.col("digest").asc())
        .limit(k)
    )
