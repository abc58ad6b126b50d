"""End-to-end pipelines mirroring the reference's three entry points.

A user of the reference runs (per day slice):

1. ``python decompression.py <type> <year> <month> <day>`` — tar
   archives → compacted JSON-lines (reference decompression.py:56-78);
2. ``python file_flattener.py <type> <year> <month> <day>`` —
   compacted → flat quoted CSV, Hive-partitioned
   (reference file_flattener.py:148-170);
3. ``python main.py <type>`` — paced replay into Kinesis
   (reference main.py:37-58).

Here each stage is one Spark job over the same Hive layout
(``<root>/<type>/year=Y/month=M/day=D/``). Paths are storage-agnostic
(local, s3a://, …). Where the reference forked one OS process per day
(mp_unpack.sh:12-19), a single job over a multi-day path scan covers
every slice at once — pass ``year=month=day=None`` to process all
partitions; Catalyst prunes when values are given.

``python -m kinesis_producer_spark.pipelines unpack|flatten|produce ...``
keeps the reference's CLI shape, including its argument-domain
validation (reference decompression.py:24-26,64-67).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Reading-type domain (reference consts.py:1-2).
SIGNALS = ["ACOUSTIC", "IMPACT", "TEMPERATURE", "VISUAL"]
READING_TYPES = [*SIGNALS, "vehicleComponent"]


def validate_arg(value: str, valid: list[str], name: str = "argument") -> None:
    """Domain check (reference decompression.py:24-26)."""
    if value not in valid:
        raise ValueError(f"{name} must be one of {valid}, got {value!r}")


def _slice_path(root: str, reading_type: str, y: str | None, m: str | None, d: str | None) -> str:
    p = f"{root}/{reading_type}"
    if y is not None:
        p += f"/year={y}"
        if m is not None:
            p += f"/month={m}"
            if d is not None:
                p += f"/day={d}"
    return p


def unpack_day(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    reading_type: str,
    year: str | None = None,
    month: str | None = None,
    day: str | None = None,
    max_records_per_file: int | None = 50_000,
) -> None:
    """Stage 1: tar-of-XML → compacted JSON-lines records.

    binaryFile scan (distributed listing + 128 MB splits — the
    reference's greedy batch packer, aws_utils.py:27-45, for free) →
    tar member explode → ``{payload, tenant_id, partition_id}``
    envelope → JSON-lines under the same Hive slice.
    """
    from kinesis_producer_spark.sinks import write_jsonlines
    from kinesis_producer_spark.sources.tar import read_tar_archives

    validate_arg(reading_type, READING_TYPES, "reading_type")
    members = read_tar_archives(spark, _slice_path(src_root, reading_type, year, month, day))
    # the JSON-lines writer encodes each row as one object — the
    # reference's {payload, tenant_id, partition_id} record
    # (decompression.py:40-44) is just the column set
    records = members.select(
        F.col("content").cast("string").alias("payload"),
        F.lit("bhp").alias("tenant_id"),
        F.lit(reading_type).alias("partition_id"),
    )
    write_jsonlines(
        records,
        _slice_path(dst_root, reading_type, year, month, day),
        max_records_per_file=max_records_per_file,
        mode="overwrite",
    )


def flatten_day(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    reading_type: str,
    year: str | None = None,
    month: str | None = None,
    day: str | None = None,
) -> None:
    """Stage 2: compacted records → flat quoted CSV.

    Signal types pivot the EAV readings (dynamic schema, reference
    SignalFlattener); ``vehicleComponent`` flattens the recursive tree
    (reference VehicleComponentFlattener). FAILFAST matches the
    reference's strict ValueError behavior.

    Parse once: the parsed columns (not the payload) are persisted with
    ``_corrupt_record``, ONE execution over them finds every column
    vocabulary, and the write reads the same cache. Filling the cache
    runs the FAILFAST probe, so a malformed record raises before any
    write."""
    from kinesis_producer_spark.operators.eav_pivot import distinct_keys, pivot_declared, reading_keys
    from kinesis_producer_spark.operators.flatten import flatten_components
    from kinesis_producer_spark.sinks import write_hive_partitioned_csv
    from kinesis_producer_spark.sources.xml import parse_component_docs, parse_signal_messages

    validate_arg(reading_type, READING_TYPES, "reading_type")
    raw = spark.read.json(
        _slice_path(src_root, reading_type, year, month, day),
        schema="payload string, tenant_id string, partition_id string",
    )
    signal = reading_type in SIGNALS
    parse = parse_signal_messages if signal else parse_component_docs
    parsed = parse(raw, "payload", mode="FAILFAST").drop(*raw.columns).persist()
    try:
        if signal:
            keys = distinct_keys(parsed, envelope=F.map_keys("envelope"), **reading_keys(F.col("readings")))
            wide = pivot_declared(parsed, declared=keys["names"], uom_for=keys["uoms"], keep_extras=False)
            flat = wide.select(
                *[F.col("envelope").getItem(k).alias(k) for k in keys["envelope"]],
                *[c for c in wide.columns if c not in raw.columns and c not in parsed.columns],
            )
        else:
            flat = flatten_components(parsed)
        write_hive_partitioned_csv(
            flat, _slice_path(dst_root, reading_type, year, month, day), quote_all=True
        )
    finally:
        parsed.unpersist()


def produce_day(
    spark: SparkSession,
    src_root: str,
    reading_type: str,
    sink,
    ts_col_from_envelope: str = "readingTimestampUTC",
    speedup: float = float("inf"),
    year: str | None = None,
    month: str | None = None,
    day: str | None = None,
) -> DataFrame:
    """Stage 3: replay compacted XML into a Kinesis-style sink at the
    original event-time cadence (reference main.py:37-58 + the inferred
    xml_generator contract, SURVEY §0): records sorted by event time,
    same-timestamp records batched, partition key = reading type.
    Returns the per-record ack frame."""
    from kinesis_producer_spark.sources.xml import parse_signal_messages
    from kinesis_producer_spark.streaming.replay import replay_to_kinesis

    validate_arg(reading_type, READING_TYPES, "reading_type")
    raw = spark.read.json(
        _slice_path(src_root, reading_type, year, month, day),
        schema="payload string, tenant_id string, partition_id string",
    )
    parsed = parse_signal_messages(raw, "payload", mode="FAILFAST")
    # filter, not only project: a projection alone prunes the FAILFAST probe
    timed = parsed.where(F.col("_corrupt_record").isNull()).select(
        F.to_timestamp(F.col("envelope").getItem(ts_col_from_envelope)).alias("ts"),
        "payload",
        F.col("partition_id").alias("partition_key"),
    )
    return replay_to_kinesis(timed, sink, speedup=speedup)


def main(argv: list[str] | None = None) -> None:
    import argparse

    from kinesis_producer_spark.session import get_spark

    parser = argparse.ArgumentParser(prog="kinesis_producer_spark.pipelines")
    sub = parser.add_subparsers(dest="cmd", required=True)
    for cmd in ("unpack", "flatten", "produce"):
        p = sub.add_parser(cmd)
        p.add_argument("reading_type", type=str)
        p.add_argument("year", type=str, nargs="?", default=None)
        p.add_argument("month", type=str, nargs="?", default=None)
        p.add_argument("day", type=str, nargs="?", default=None)
        p.add_argument("--src-root", required=True)
        if cmd != "produce":
            p.add_argument("--dst-root", required=True)
        else:
            p.add_argument("--stream-name", default="fleet-stream")
    args = parser.parse_args(argv)

    spark = get_spark(f"pipeline_{args.cmd}")
    if args.cmd == "unpack":
        unpack_day(spark, args.src_root, args.dst_root, args.reading_type, args.year, args.month, args.day)
    elif args.cmd == "flatten":
        flatten_day(spark, args.src_root, args.dst_root, args.reading_type, args.year, args.month, args.day)
    else:
        from kinesis_producer_spark.streaming.kinesis_sink import KinesisSink, KinesisTransport

        sink = KinesisSink(stream_name=args.stream_name, transport_factory=KinesisTransport)
        acks = produce_day(spark, args.src_root, args.reading_type, sink,
                           year=args.year, month=args.month, day=args.day)
        acks.groupBy("status").count().show()


if __name__ == "__main__":
    main()
