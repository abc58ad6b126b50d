"""etl_batch: the reference's stages 1-2 as one batch run.

A seeded landing zone of tar-of-XML archives over several days goes
through ``pipelines.unpack_day`` then ``pipelines.flatten_day``, one
multi-day call per reading type (the usage the pipelines module
docstring recommends). The run repeats the whole batch a fixed number
of times and checks every repetition's output.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import checks
import gen
from core import Tracer, exec_stats, stage_marks, stage_stats

# 5 types x 4 days x 2 archives x 600 members = 24,000 records. No fixture
# or reference slice gives a size; this one is large enough that a local[N]
# session beats local[1] (at 1,200 records local[1] was faster). FINDINGS.md
# records the check.
DAYS, ARCHIVES, PER_ARCHIVE = 4, 2, 600
REP_S = 8.0  # about one repetition's wall on 4 cores; sets the repetitions per run


def run_once(spark, landing: str, out: str, tr: Tracer) -> tuple[float, dict[str, float]]:
    """One batch over every reading type. Returns (wall seconds, the
    seconds from the start until each type's flattened output exists)."""
    from kinesis_producer_spark import pipelines

    compacted, flat = os.path.join(out, "compacted"), os.path.join(out, "flat")
    done: dict[str, float] = {}
    t0 = time.perf_counter()
    for rtype in gen.READING_TYPES:
        if tr.enabled:
            unpack_prefixes(spark, landing, rtype, tr)
        marks = stage_marks(spark) if tr.enabled else None
        with tr.span("pipelines.unpack_day") as s:
            pipelines.unpack_day(spark, landing, compacted, rtype)
        if tr.enabled:
            s.counts["shuffle_bytes"] = stage_stats(spark, marks).shuffle_bytes
            flatten_prefixes(spark, compacted, rtype, tr)
        marks = stage_marks(spark) if tr.enabled else None
        with tr.span("pipelines.flatten_day") as s:
            pipelines.flatten_day(spark, compacted, flat, rtype)
        if tr.enabled:
            s.counts["shuffle_bytes"] = stage_stats(spark, marks).shuffle_bytes
        done[rtype] = time.perf_counter() - t0
    return time.perf_counter() - t0, done


def unpack_prefixes(spark, landing: str, rtype: str, tr: Tracer) -> None:
    """Traced runs only: the binaryFile scan, then the tar explode, each
    through the noop sink; their difference is the tar layer's time."""
    from kinesis_producer_spark.sources.tar import read_tar_archives

    path = f"{landing}/{rtype}"
    tr.noop("prefix.binary_scan", spark.read.format("binaryFile").load(path))
    members = read_tar_archives(spark, path)
    tr.noop("prefix.tar", members).counts["members"] = members.count()


def flatten_prefixes(spark, compacted: str, rtype: str, tr: Tracer) -> None:
    """Traced runs only: the JSON scan, the XML parse, then the pivot (or
    tree flatten), each through the noop sink, plus the envelope-key
    collect ``flatten_day`` fires for signal types."""
    from pyspark.sql import functions as F

    from kinesis_producer_spark.operators.eav_pivot import pivot_dynamic
    from kinesis_producer_spark.operators.flatten import flatten_components
    from kinesis_producer_spark.sources.xml import parse_component_docs, parse_signal_messages

    raw = spark.read.json(f"{compacted}/{rtype}", schema="payload string, tenant_id string, partition_id string")
    tr.noop("prefix.json_scan", raw).counts["records"] = raw.count()
    signal = rtype in gen.SIGNALS
    parse = parse_signal_messages if signal else parse_component_docs
    parsed = parse(raw, "payload", mode="FAILFAST")
    tr.noop("prefix.xml", parsed).counts["corrupt"] = parse(raw, "payload", mode="PERMISSIVE").filter(
        F.col("_corrupt_record").isNotNull()).count()
    name = "prefix.eav_pivot" if signal else "prefix.flatten"
    with tr.span(name) as s:
        out = pivot_dynamic(parsed) if signal else flatten_components(parsed)
        out.write.format("noop").mode("overwrite").save()
    s.counts["rows_out"] = out.count()
    if signal:
        with tr.span("prefix.envelope_keys"):
            parsed.select(F.explode(F.map_keys("envelope")).alias("k")).distinct().collect()


def run(ctx) -> None:
    """Repeat the batch ``seconds / REP_S`` times (a fixed count, so both
    sides of a comparison do the same work); record wall, per-slice
    latency and throughput; check every repetition."""
    landing = os.path.join(ctx.work, "landing")
    t = time.perf_counter()
    truth = gen.gen_etl(landing, ctx.seed, DAYS, ARCHIVES, PER_ARCHIVE)
    ctx.gen_s = time.perf_counter() - t
    for rep in range(max(1, round(ctx.seconds / REP_S))):
        out = os.path.join(ctx.work, f"out{rep}")
        ctx.rss.reset()
        wall, done = run_once(ctx.spark, landing, out, ctx.tr)
        ctx.peaks.append(ctx.rss.peak_mb)
        check(ctx, out, truth)
        ctx.walls.append(wall)
        ctx.rates.append(truth.records / wall)
        ctx.latencies_ms += [done[t] * 1000.0 for (t, _d) in truth.slices]
        if ctx.tr.enabled:
            files = glob.glob(os.path.join(out, "*", "*", "**", "part-*"), recursive=True)
            ctx.layer_counts["files"] = ctx.layer_counts.get("files", 0) + len(files)
            ctx.layer_counts["bytes"] = ctx.layer_counts.get("bytes", 0) + sum(map(os.path.getsize, files))
        shutil.rmtree(out, ignore_errors=True)
    if ctx.tr.enabled:
        layer_metrics(ctx)


def check(ctx, out: str, truth: gen.EtlTruth) -> None:
    problems, bad = checks.check_etl(os.path.join(out, "flat"), truth, gen.READING_TYPES)
    ctx.attempted += truth.records
    ctx.failed += bad
    ctx.problems += problems


def local1(ctx) -> dict[str, float]:
    """One repetition on a single-threaded session, as a reference for
    ``wall_s``; the JVM is warm, so it compares with the local[N] pass's
    last repetition."""
    landing, out = os.path.join(ctx.work, "landing"), os.path.join(ctx.work, "out")
    truth = gen.gen_etl(landing, ctx.seed, DAYS, ARCHIVES, PER_ARCHIVE)
    wall, _done = run_once(ctx.spark, landing, out, ctx.tr)
    check(ctx, out, truth)
    return {"bench.local1.wall_s": wall}


def layer_metrics(ctx) -> None:
    """Per-repetition means of the traced layer costs."""
    tr, m, reps = ctx.tr, ctx.layer, len(ctx.walls)
    spans = tr.spans
    py_arrow: dict[str, tuple[float, float]] = {}

    def total(name: str) -> float:
        return tr.total(name) / reps

    def count(name: str, key: str) -> float:
        return sum(s.counts.get(key, 0) for s in spans if s.name == name) / reps

    shuffle = 0.0
    for name, layer in (("pipelines.unpack_day", "sources.tar"), ("pipelines.flatten_day", "sources.xml")):
        py = arrow = 0.0
        for s in (s for s in spans if s.name == name):
            st = exec_stats(ctx.spark, int(s.counts["exec_from"]), int(s.counts["exec_to"]))
            py += ctx.check_task_time(f"{layer} python time", st.python_run_s, s.end - s.start)
            arrow += st.arrow_bytes
            shuffle += s.counts["shuffle_bytes"]
        py_arrow[layer] = (py / reps, arrow / reps / 2**20)
    m["pipelines.unpack_day_s"] = total("pipelines.unpack_day")
    m["pipelines.flatten_day_s"] = total("pipelines.flatten_day")
    m["sources.tar.python_s"], m["sources.tar.arrow_mb"] = py_arrow["sources.tar"]
    m["sources.xml.python_s"], m["sources.xml.arrow_mb"] = py_arrow["sources.xml"]
    flattens = [s for s in spans if s.name == "pipelines.flatten_day"]
    # every execution a flatten_day call fires before its final write
    m["pipelines.build_executions"] = sum(
        s.counts["exec_to"] - s.counts["exec_from"] - 1 for s in flattens) / len(flattens)
    m["sources.tar.busy_s"] = total("prefix.tar") - total("prefix.binary_scan")
    m["sources.tar.members"] = count("prefix.tar", "members")
    m["sources.xml.busy_s"] = total("prefix.xml") - total("prefix.json_scan")
    m["sources.xml.records"] = count("prefix.json_scan", "records")
    m["sources.xml.corrupt"] = count("prefix.xml", "corrupt")
    # pivot and tree flatten: their prefix minus the parse prefix it extends
    kinds = [s.name for s in spans if s.name in ("prefix.eav_pivot", "prefix.flatten")]
    parse_s = [s.end - s.start for s in spans if s.name == "prefix.xml"]

    def own(name: str) -> float:
        return total(name) - sum(x for x, k in zip(parse_s, kinds) if k == name) / reps

    m["operators.eav_pivot.busy_s"] = own("prefix.eav_pivot")
    m["operators.eav_pivot.rows_out"] = count("prefix.eav_pivot", "rows_out")
    m["operators.flatten.busy_s"] = own("prefix.flatten")
    m["operators.flatten.rows_out"] = count("prefix.flatten", "rows_out")
    # the sink: each stage's call minus the prefix that feeds its write
    m["sinks.write_s"] = (total("pipelines.unpack_day") - total("prefix.tar")
                          + total("pipelines.flatten_day") - total("prefix.eav_pivot")
                          - total("prefix.flatten") - total("prefix.envelope_keys"))
    m["sinks.files"] = ctx.layer_counts.get("files", 0) / reps
    m["sinks.mb_written"] = ctx.layer_counts.get("bytes", 0) / reps / 2**20
    m["sinks.shuffle_mb"] = shuffle / reps / 2**20
