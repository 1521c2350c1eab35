"""Command-line interface — the reference's binary surface, Spark-run.

The reference is invoked as a CLI (parse a slow log, aggregate query
classes, load ClickHouse — main.go flag surface [R:M]); this module is
the drop-in shape over the same plan functions the operator registry
uses, so "a user of the reference" can run the pipeline without
writing Python:

    python -m slowlog2clickhouse_spark ingest --log slow.log \\
        --out /data/classes                      # parquet MergeTree-layout sink
    python -m slowlog2clickhouse_spark ingest --log slow.log \\
        --jdbc-url jdbc:clickhouse://ch:8123/db --table queries
    python -m slowlog2clickhouse_spark digest --log slow.log --top 10
    python -m slowlog2clickhouse_spark ingest --log slow.log --print-ddl \\
        --table queries                          # ClickHouse DDL, no write
    python -m slowlog2clickhouse_spark stream --log-dir /var/log/slow/ \\
        --out /data/classes_stream --checkpoint /data/_ckpt
    python -m slowlog2clickhouse_spark tail --log /var/log/mysql/slow.log \\
        --out /data/classes_live --checkpoint /data/_tail_ckpt --follow
    python -m slowlog2clickhouse_spark dedup --data-dir /data/sf --out /data/keep
    python -m slowlog2clickhouse_spark curate --data-dir /data/sf --out /data/report

`ingest` = parse → fingerprint → per-(digest, period) stat battery →
sink (exactly plans/pipeline.ingest_slowlog — the oracle-checked path).
`digest` = the pt-query-digest-style report: global rollup + top-K
classes by total query time, printed to stdout.
`stream` = the same aggregation as an availableNow/continuous
foreachBatch stream over a growing log directory. The sink is an
idempotent FULL-STATE overwrite per micro-batch (complete output
mode, epoch stamped as a column): a retried epoch rewrites identical
content and a later drain supersedes an earlier one, so the output
dir always holds exactly one consistent snapshot — never partial
appends that double-count. Checkpointed, so restarts resume.

Everything here is a THIN argument parser over tested library
functions — no query logic lives in this module.
"""

from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="slowlog2clickhouse_spark",
        description="MySQL slow-log -> query-class analytics on Spark",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="batch ingest: log -> classes -> sink")
    ing.add_argument("--log", required=True, help="slow-log file or directory")
    ing.add_argument("--out", help="output parquet directory")
    ing.add_argument("--jdbc-url", help="JDBC URL (e.g. jdbc:clickhouse://host:8123/db)")
    ing.add_argument("--table", default="queries", help="target table name")
    ing.add_argument(
        "--jdbc-driver", default="com.clickhouse.jdbc.ClickHouseDriver"
    )
    ing.add_argument(
        "--period", default="minute", choices=("minute", "hour", "day")
    )
    ing.add_argument(
        "--percentiles", default="exact", choices=("exact", "approx"),
        help="exact buffers per-group values; approx = sketch (100 TB)",
    )
    ing.add_argument(
        "--fingerprint", default="chain", choices=("chain", "routed", "python"),
        help="chain = codegen'd regexes (fastest); routed = state-machine"
        " UDF only on rows flagged by the construct detectors"
        " (state-machine-exact, small UDF tax); python = state machine"
        " everywhere",
    )
    ing.add_argument(
        "--print-ddl", action="store_true",
        help="print the ClickHouse MergeTree DDL for the class schema and exit",
    )

    dig = sub.add_parser("digest", help="pt-query-digest-style stdout report")
    dig.add_argument("--log", required=True)
    dig.add_argument("--top", type=int, default=10)
    dig.add_argument(
        "--period", default="minute", choices=("minute", "hour", "day")
    )
    dig.add_argument(
        "--fingerprint", default="chain", choices=("chain", "routed", "python")
    )

    st = sub.add_parser("stream", help="streaming ingest of a growing log dir")
    st.add_argument("--log-dir", required=True)
    st.add_argument("--out", required=True, help="output parquet directory")
    st.add_argument("--checkpoint", required=True)
    st.add_argument(
        "--follow", action="store_true",
        help="keep running (default: availableNow — drain and exit)",
    )
    st.add_argument(
        "--fingerprint", default="routed", choices=("routed", "chain"),
        help="routed (default) = state-machine-exact digests via the"
        " masked single-pass routing (only flagged rows carry payload"
        " across the Python boundary; no extra source pass since r14);"
        " chain = pure codegen'd regexes, accepts the documented"
        " divergences",
    )

    dd = sub.add_parser(
        "dedup", help="near-dup resolution over a documents table"
    )
    dd.add_argument(
        "--data-dir", required=True,
        help="directory holding documents.parquet",
    )
    dd.add_argument("--out", required=True, help="output parquet directory")
    dd.add_argument(
        "--method", default="keep_best",
        choices=("exact", "minhash", "keep_best"),
        help="exact = hash-groupBy survivors; minhash = LSH candidate "
        "pairs; keep_best = cluster + quality-keep decision per doc",
    )

    cu = sub.add_parser(
        "curate", help="corpus curation report over a documents table"
    )
    cu.add_argument("--data-dir", required=True)
    cu.add_argument("--out", required=True)

    tl = sub.add_parser(
        "tail",
        help="follow growing slow-log file(s): one FILE tails on the "
        "driver; a DIRECTORY or glob tails the whole fleet with "
        "per-file offsets and executor-side parsing (use `stream` "
        "for a directory of finished/rotated segments)",
    )
    tl.add_argument(
        "--log",
        required=True,
        help="the growing slow-log FILE, or a directory/glob of many "
        "(one per mysqld) — directories and globs select the "
        "partitioned fleet reader",
    )
    tl.add_argument("--out", required=True, help="output parquet directory")
    tl.add_argument("--checkpoint", required=True)
    tl.add_argument(
        "--follow", action="store_true",
        help="keep running (default: drain what's currently complete and exit)",
    )
    tl.add_argument(
        "--fingerprint", default="routed", choices=("routed", "chain"),
        help="routed (default) = state-machine-exact digests via the"
        " masked single-pass routing; chain = pure codegen'd regexes",
    )
    tl.add_argument(
        "--from", dest="start_at", choices=("earliest", "latest"),
        default="earliest",
        help="earliest = include the existing backlog; latest = tail -F "
        "from now (bulk-load history with `ingest` first — the batch "
        "reader byte-splits within files and is the right tool for it)",
    )
    return p


def _get_spark():
    from slowlog2clickhouse_spark.session import get_session

    return get_session(app_name="slowlog2clickhouse_spark_cli")


def _warn_unroutable_constructs(spark, log_path: str) -> None:
    """Data-driven fingerprint routing check (fn_fingerprint_router's
    detectors over the REAL log): the ingest pipeline fingerprints via
    the codegen'd regexp_replace chain, whose divergence regimes are
    measured by fn_fingerprint_parity. If the log contains any of the
    ten chain-unsupported constructs, warn with per-construct counts
    so the user re-runs with full-fidelity fingerprinting. One extra
    map pass + a 10-number aggregate — never a shuffle."""
    from pyspark.sql import functions as F

    from slowlog2clickhouse_spark.functions.fingerprint import construct_flags
    from slowlog2clickhouse_spark.sources.slowlog import parse_slowlog

    q = parse_slowlog(spark, log_path).where(F.col("query").isNotNull())
    flags = construct_flags(F.col("query"))
    row = q.agg(
        *[F.sum(c.cast("int")).alias(k) for k, c in flags.items()]
    ).collect()[0]
    hits = {k: row[k] for k in flags if row[k]}
    if hits:
        detail = ", ".join(f"{k}={v}" for k, v in sorted(hits.items()))
        print(
            "WARNING: log contains constructs the fingerprint chain "
            f"diverges on ({detail}); re-run with --fingerprint python "
            "(cheapest full-fidelity path on a single box — SCALING.md "
            "r14 crossover: the detector pass alone costs about as "
            "much as the state machine here) or routed (single-pass "
            "since r14, UDF payload confined to flagged rows — the "
            "better choice when Python workers are the constrained "
            "resource) — see fn_fingerprint_parity for the measured "
            "per-construct divergence",
            file=sys.stderr,
        )


def cmd_ingest(args) -> int:
    from slowlog2clickhouse_spark.plans.pipeline import (
        ingest_slowlog,
        sink_classes_parquet,
    )
    from slowlog2clickhouse_spark.sinks.jdbc import clickhouse_ddl, write_jdbc

    if not args.print_ddl and not args.out and not args.jdbc_url:
        print("ingest: need --out and/or --jdbc-url (or --print-ddl)", file=sys.stderr)
        return 2
    spark = _get_spark()
    classes = ingest_slowlog(
        spark,
        args.log,
        period=args.period,
        percentiles=args.percentiles,
        fingerprint=args.fingerprint,
    )
    if args.print_ddl:
        print(clickhouse_ddl(classes, args.table))
        return 0
    if args.fingerprint == "chain":
        _warn_unroutable_constructs(spark, args.log)
    n = None
    if args.out:
        sink_classes_parquet(classes, args.out)
        n = spark.read.parquet(args.out).count()
        print(f"wrote {n} class rows -> {args.out}")
    if args.jdbc_url:
        write_jdbc(classes, args.jdbc_url, args.table, driver=args.jdbc_driver)
        print(f"wrote class rows -> {args.jdbc_url} {args.table}")
    return 0


def cmd_digest(args) -> int:
    from slowlog2clickhouse_spark.plans.pipeline import (
        aggregate_global,
        ingest_slowlog,
        top_digests,
    )
    from slowlog2clickhouse_spark.sources.slowlog import class_events, parse_slowlog

    spark = _get_spark()
    events = class_events(parse_slowlog(spark, args.log), mode=args.fingerprint)
    g = (
        aggregate_global(events)
        .agg(
            {"num_queries": "sum", "m_query_time_sum": "sum"},
        )
        .collect()[0]
    )
    total_n = g["sum(num_queries)"] or 0
    total_qt = g["sum(m_query_time_sum)"] or 0.0
    print(f"# {total_n} queries, {total_qt:.3f}s total query time")
    print("# Rank  Calls      Time(s)   Worst(s)  Fingerprint")
    classes = ingest_slowlog(
        spark, args.log, period=args.period, fingerprint=args.fingerprint
    )
    for i, r in enumerate(top_digests(classes, k=args.top).collect(), start=1):
        fp = (r["fingerprint"] or "")[:70]
        # a class whose every event lacked Query_time aggregates to
        # NULL sums/max — print 0.0 instead of crashing the report
        total_t = r["total_query_time"] if r["total_query_time"] is not None else 0.0
        worst_t = r["worst_query_time"] if r["worst_query_time"] is not None else 0.0
        print(
            f"{i:6d} {r['total_queries']:6d} {total_t:12.4f}"
            f" {worst_t:10.4f}  {fp}"
        )
    return 0


def _complete_snapshot_writer(classes, out: str, checkpoint: str):
    """complete mode + full-state overwrite per epoch: a retried
    micro-batch rewrites the same state, a later drain replaces the
    earlier one, so readers summing num_queries never double-count
    (same idempotent shape as stream_slowlog_to_jdbc's JDBC sink).
    The epoch column records which micro-batch produced the snapshot.
    Shared by `stream` and the non-follow `tail` drain.

    Guard (r11 advisor find): this writer OVERWRITES ``out``. If
    ``out`` was previously an append-mode file sink (``tail
    --follow`` writes there and leaves ``_spark_metadata``), a drain
    reusing the same --out would DELETE the history the append sink
    accumulated — append-mode state has already evicted closed
    windows, so the complete snapshot holds only leftover open
    windows — and leave a stale _spark_metadata behind. Refuse and
    demand a distinct --out instead."""
    import os

    if os.path.isdir(os.path.join(out, "_spark_metadata")):
        raise SystemExit(
            f"refusing to drain into {out!r}: it contains _spark_metadata "
            "from an append-mode (tail --follow) file sink; a complete-mode "
            "snapshot overwrite would delete the appended window history. "
            "Pass a distinct --out for the drain."
        )

    def sink_batch(batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
            "overwrite"
        ).parquet(out)

    return (
        classes.writeStream.outputMode("complete")
        .foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint)
    )


def cmd_stream(args) -> int:
    from slowlog2clickhouse_spark.streaming.slowlog_stream import (
        read_slowlog_stream,
        stream_classes,
    )

    spark = _get_spark()
    events = read_slowlog_stream(spark, args.log_dir)
    classes = stream_classes(events, mode=args.fingerprint)
    writer = _complete_snapshot_writer(classes, args.out, args.checkpoint)
    if args.follow:
        q = writer.start()
        q.awaitTermination()
    else:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        print(f"drained -> {args.out}")
    return 0


def cmd_tail(args) -> int:
    """Tail the LIVE slow-log file via the Python Data Source stream
    reader (byte-offset exactly-once; the in-flight torn record is
    held back until mysqld writes the next record header; logrotate
    copytruncate detected via the offset's head-hash incarnation).

    Two modes with DIFFERENT sink semantics, both r11 code-review
    driven:
    - drain (default): one bounded availableNow batch of what is
      complete right now, complete-mode snapshot overwrite, exit.
      (processAllAvailable would chase an actively-growing file
      forever — Spark documents it as able to block indefinitely.)
    - --follow: unbounded run, so complete mode is WRONG (state and
      per-trigger rewrite grow with uptime, and complete mode ignores
      the watermark so nothing is ever evicted). Follow mode uses the
      watermarked APPEND path: each 1-minute (window, digest) row is
      emitted exactly once when the 5-minute watermark closes it,
      appended to the parquet sink — bounded state however long the
      tail runs. Trade: a window's row appears only after the
      watermark passes; residual still-open windows can be flushed by
      restarting as a drain with the SAME --checkpoint but a
      DISTINCT --out (the snapshot holds only the leftover open
      windows — closed ones were already appended — and the drain
      guard refuses to overwrite the append sink's history; union
      the two outputs for the complete picture)."""
    import os as _os

    from slowlog2clickhouse_spark.sources.slowlog_datasource import register
    from slowlog2clickhouse_spark.streaming.slowlog_stream import stream_classes

    spark = _get_spark()
    register(spark)
    # one FILE -> driver-side single-file tail; a directory or glob ->
    # the partitioned fleet reader (per-file offsets, executor parse)
    fleet = _os.path.isdir(args.log) or any(c in args.log for c in "*?[")
    fmt = "slowlog_tail_multi" if fleet else "slowlog"
    events = (
        spark.readStream.format(fmt)
        .option("path", args.log)
        .option("startAt", args.start_at)
        .load()
    )
    if fleet:
        # stream_classes keys by digest — strip the fleet reader's
        # provenance columns (file path + incarnation stamp)
        events = events.drop("source_file", "incarnation")
    classes = stream_classes(events, mode=args.fingerprint)

    if args.follow:
        q = (
            classes.writeStream.outputMode("append")
            .format("parquet")
            .option("path", args.out)
            .option("checkpointLocation", args.checkpoint)
            .trigger(processingTime="5 seconds")
            .start()
        )
        q.awaitTermination()
    else:
        writer = _complete_snapshot_writer(classes, args.out, args.checkpoint)
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        print(f"drained -> {args.out}")
    return 0


def cmd_dedup(args) -> int:
    from slowlog2clickhouse_spark.registry import all_ops

    op_id = {
        "exact": "dedup_exact",
        "minhash": "dedup_minhash",
        "keep_best": "dedup_keep_best",
    }[args.method]
    spark = _get_spark()
    df = all_ops()[op_id].fn(spark, args.data_dir)
    df.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"{op_id}: wrote {n} rows -> {args.out}")
    return 0


def cmd_curate(args) -> int:
    from slowlog2clickhouse_spark.registry import all_ops

    spark = _get_spark()
    ops = all_ops()
    report = ops["corpus_curation"].fn(spark, args.data_dir)
    report.write.mode("overwrite").parquet(args.out)
    print(f"corpus_curation: wrote {report.count()} rows -> {args.out}")
    for r in ops["llm_curation_funnel"].fn(spark, args.data_dir).collect():
        print(f"  funnel {r['stage']}: {r['n']}")
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    return {
        "ingest": cmd_ingest,
        "digest": cmd_digest,
        "stream": cmd_stream,
        "tail": cmd_tail,
        "dedup": cmd_dedup,
        "curate": cmd_curate,
    }[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
