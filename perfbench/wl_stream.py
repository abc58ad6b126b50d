"""stream_loop: the Kinesis produce -> consume loop under an open-loop
arrival schedule.

- One generator thread lands signal-XML records in a directory at a fixed
  rate; each record's creation stamp is the time it was due, so a stall
  also charges the records queued behind it.
- A Structured Streaming file-source query sends every micro-batch through
  ``KinesisSink.foreach_batch_writer(ack_path, exactly_once=True)`` into a
  4-shard ``FileStreamTransport`` (first-attempt throttle injection on).
- The driver's main thread repeats ``consume_new_records`` ->
  ``firehose_transform`` -> ``write_jsonlines(mode="append")`` ->
  ``ShardCheckpoint.commit``, one round each time the producer has
  committed a new micro-batch (a blocking poll, not a busy loop). A
  record's latency runs from its creation stamp to the commit of the
  consumer round that delivered it.
- After the fixed-rate phase a backlog lands at once, once per ten seconds
  of the run (twice at ``--seconds 20``); the drain
  time is from landing it to the commit that completes it.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import checks
import gen
from core import scan_stats

RATE = 20.0  # records per second in the fixed-rate phase
TICK_S = 0.25  # the generator lands one file per tick
TRIGGER_S = 2  # the producer query's processing-time trigger interval
LAND_AT = -0.2  # drains land this long before a trigger fires
FIXED_SHARE = 0.5  # share of the run's seconds spent in the fixed-rate phase
WARMUP_S = 3.0  # records due in the first seconds are checked but not timed
BACKLOG = 15000  # records landed at once for each drain
BACKLOG_FILES = 4
DRAIN_S = 10.0  # one drain per this many seconds of the run
DRAIN_TIMEOUT_S = 90.0


class Generator(threading.Thread):
    """Open loop: lands the records of tick k at start + k*TICK_S whether
    or not the system keeps up, and records how late each landing was."""

    def __init__(self, recs, landing, staging, start):
        super().__init__(name="stream-generator", daemon=True)
        self.recs, self.landing, self.staging, self.start_at = recs, landing, staging, start
        self.per_tick = max(1, round(RATE * TICK_S))
        self.due: dict[str, float] = {}
        self.late_ms: list[float] = []
        self.stop_flag = threading.Event()
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for k in range(0, len(self.recs), self.per_tick):
                due = self.start_at + (k // self.per_tick) * TICK_S
                if self.stop_flag.wait(max(0.0, due - time.perf_counter())):
                    return
                batch = self.recs[k:k + self.per_tick]
                for r in batch:
                    self.due[r.rid] = due
                gen.write_landing_file(self.landing, self.staging, f"f{k:07d}.json", batch)
                self.late_ms.append((time.perf_counter() - due) * 1000.0)
        except BaseException as exc:  # reported by the runner, never swallowed
            self.error = exc


class Loop:
    """The consumer half and the bookkeeping that turns commits into
    per-record latencies."""

    def __init__(self, ctx, stream_dir, out_dir, pos_path):
        from kinesis_producer_spark.streaming.kinesis_source import ShardCheckpoint

        self.ctx, self.stream_dir, self.out_dir = ctx, stream_dir, out_dir
        self.ck = ShardCheckpoint(pos_path)
        self.seen_files: set[str] = set()
        self.committed: dict[str, float] = {}  # record id -> commit time
        self.rounds: list[dict] = []
        self.batches = 0  # producer micro-batches committed so far
        self.consumed_batches = 0
        self.cond = threading.Condition()

    def batch_done(self) -> None:
        """Called by the producer's foreachBatch after each commit."""
        with self.cond:
            self.batches += 1
            self.cond.notify_all()

    def wait_batch(self, timeout_s: float) -> bool:
        """Block until the producer has committed a micro-batch this
        consumer has not read yet, or the timeout passes."""
        with self.cond:
            return self.cond.wait_for(lambda: self.batches > self.consumed_batches, timeout_s)

    def round(self) -> int:
        """One consume round; returns the number of records it committed."""
        from pyspark.sql import functions as F

        from kinesis_producer_spark.sinks import write_jsonlines
        from kinesis_producer_spark.streaming.kinesis_source import consume_new_records
        from kinesis_producer_spark.streaming.transform import firehose_transform

        tr = self.ctx.tr
        with self.cond:
            self.consumed_batches = self.batches
        info = {"t0": time.perf_counter()}
        with tr.span("streaming.kinesis_source.consume_new_records") as s:
            df, positions = consume_new_records(self.ctx.spark, self.stream_dir, self.ck)
        info["consume_span"] = s
        out = firehose_transform(df.select("shard_id", "sequence_number", F.base64("data").alias("data")))
        out = out.select("shard_id", "sequence_number", "data", "result", "data_out")
        tr.noop("streaming.transform", out)
        with tr.span("sinks.write_jsonlines"):
            write_jsonlines(out, self.out_dir, mode="append")
        with tr.span("streaming.kinesis_source.commit"):
            self.ck.commit(positions)
        t = time.perf_counter()
        n = 0
        new = sorted(set(glob.glob(os.path.join(self.out_dir, "*.json"))) - self.seen_files)
        self.seen_files.update(new)
        for line in checks.lines(new):
            self.committed.setdefault(checks.record_id(json.loads(line)), t)
            n += 1
        info.update(t1=t, records=n)
        self.rounds.append(info)
        return n

    def until(self, ids: set[str], timeout_s: float) -> float:
        """Run a round per new producer batch until every id is committed;
        returns the time of the commit that completed the set."""
        end = time.perf_counter() + timeout_s
        while not ids <= self.committed.keys():
            if time.perf_counter() > end:
                raise TimeoutError(f"{len(ids - self.committed.keys())} records not committed "
                                   f"within {timeout_s:.0f} s")
            if self.wait_batch(0.5):
                self.round()
        return max(self.committed[i] for i in ids)


def log_blocks(stream_dir: str) -> int:
    """Block files in the shard log right now."""
    return len(glob.glob(os.path.join(stream_dir, "shardId-*", "block-*.jsonl")))


def run(ctx, fixed_phase: bool = True, drains: int | None = None) -> None:
    from kinesis_producer_spark.streaming.kinesis_sink import KinesisSink
    from kinesis_producer_spark.streaming.kinesis_source import FileStreamTransport

    spark, w = ctx.spark, ctx.work
    landing, staging = os.path.join(w, "landing"), os.path.join(w, "staging")
    stream_dir, ack = os.path.join(w, "stream"), os.path.join(w, "acks")
    out_dir = os.path.join(w, "out")
    for d in (landing, staging):
        os.makedirs(d)
    t = time.perf_counter()
    fixed = gen.gen_stream(ctx.seed, int(RATE * FIXED_SHARE * ctx.seconds) if fixed_phase else 0, "F")
    drains = drains or max(1, round(ctx.seconds / DRAIN_S))
    backlogs = [gen.gen_stream(ctx.seed, BACKLOG, f"B{i}-") for i in range(drains)]
    ctx.gen_s = time.perf_counter() - t
    sent = {r.rid: r for r in fixed + [r for b in backlogs for r in b]}
    ctx.attempted += len(sent)

    FileStreamTransport(stream_dir, n_shards=4)  # the stream exists before anyone reads it
    sink = KinesisSink(stream_name="bench-stream",
                       transport_factory=lambda: FileStreamTransport(stream_dir, n_shards=4))
    writer = sink.foreach_batch_writer(ack, data_col="payload", partition_key_col="pk", exactly_once=True)
    sink_spans: list[tuple[float, float]] = []

    loop = Loop(ctx, stream_dir, out_dir, os.path.join(w, "positions.json"))

    def timed_writer(batch_df, epoch_id):
        t0 = time.perf_counter()
        writer(batch_df, epoch_id)
        sink_spans.append((t0, time.perf_counter()))
        loop.batch_done()

    query = (spark.readStream.schema("payload string, pk string").json(landing)
             .writeStream.foreachBatch(timed_writer)
             .trigger(processingTime=f"{TRIGGER_S} seconds")
             .option("checkpointLocation", os.path.join(w, "query-ckpt"))
             .start())
    gen_thread = Generator(fixed, landing, staging, time.perf_counter() + 0.5)
    progress: dict[int, dict] = {}
    backlog_max = fixed_rounds = 0
    try:
        ctx.rss.reset()
        gen_thread.start()
        while gen_thread.is_alive():
            if not loop.wait_batch(0.5):
                check_query(query)
                continue
            loop.round()
            backlog_max = max(backlog_max, len(gen_thread.due.keys() - loop.committed.keys()))
            check_query(query)
            for p in query.recentProgress:
                progress[p["batchId"]] = p
        gen_thread.join()
        if gen_thread.error is not None:
            raise gen_thread.error
        if fixed:
            loop.until({r.rid for r in fixed}, DRAIN_TIMEOUT_S)
            ctx.peaks.append(ctx.rss.peak_mb)
        fixed_rounds = len(loop.rounds)
        for i, backlog in enumerate(backlogs):
            per = -(-BACKLOG // BACKLOG_FILES)
            ctx.rss.reset()
            # Processing-time triggers fire on multiples of the interval of
            # the wall clock: land just before one, so the drain measures
            # the loop's work rather than a random wait for the trigger.
            time.sleep((LAND_AT - time.time()) % TRIGGER_S)
            t_land = time.perf_counter()
            for f in range(BACKLOG_FILES):
                gen.write_landing_file(landing, staging, f"b{i}-{f:03d}.json", backlog[f * per:(f + 1) * per])
            t_done = loop.until({r.rid for r in backlog}, DRAIN_TIMEOUT_S)
            ctx.peaks.append(ctx.rss.peak_mb)
            ctx.walls.append(t_done - t_land)
            ctx.rates.append(BACKLOG / (t_done - t_land))
            for p in query.recentProgress:
                progress[p["batchId"]] = p
        check_query(query)
    finally:
        gen_thread.stop_flag.set()
        gen_thread.join(timeout=10)
        query.stop()

    problems, bad = checks.check_stream(out_dir, sent)
    ctx.problems += problems
    ctx.failed += bad
    warm = {r.rid for r in fixed[:int(RATE * WARMUP_S)]}
    ctx.latencies_ms = [(loop.committed[r.rid] - gen_thread.due[r.rid]) * 1000.0
                        for r in fixed if r.rid not in warm]
    late = sorted(gen_thread.late_ms) or [0.0]
    ctx.notes["generator_late_ms_max"] = round(late[-1], 1)
    ctx.notes["consumer_rounds"] = len(loop.rounds)
    ctx.notes["round_s_mean"] = round(sum(r["t1"] - r["t0"] for r in loop.rounds) / len(loop.rounds), 3)
    ctx.notes["sink_batches"] = len(sink_spans)
    ctx.notes["sink_batch_s_mean"] = round(sum(b - a for a, b in sink_spans) / max(1, len(sink_spans)), 3)
    ctx.notes["drain_s"] = [round(x, 3) for x in ctx.walls]
    if ctx.tr.enabled:
        layer_metrics(ctx, loop, fixed_rounds, ack, sink_spans, progress, late, backlog_max, stream_dir)


def local1(ctx) -> dict[str, float]:
    """One drain alone on a single-threaded session, as a reference for
    ``drain_rps``."""
    run(ctx, fixed_phase=False, drains=1)
    return {"bench.local1.drain_rps": ctx.rates[0]}


def check_query(query) -> None:
    exc = query.exception()
    if exc is not None:
        raise RuntimeError(f"streaming query failed: {exc}")


def layer_metrics(ctx, loop, fixed_rounds, ack, sink_spans, progress, late, backlog_max,
                  stream_dir) -> None:
    from pyspark.sql import functions as F

    spark, tr, m = ctx.spark, ctx.tr, ctx.layer
    acks = spark.read.parquet(ack).agg(
        F.count(F.when(F.col("status") == "ok", 1)).alias("ok"),
        F.count(F.when((F.col("status") == "ok") & (F.col("attempts") > 1), 1)).alias("retried"),
        F.count(F.when(F.col("status") == "dead_letter", 1)).alias("dead"),
        F.sum("attempts").alias("attempts")).collect()[0]
    m["streaming.kinesis_sink.batch_s"] = sum(b - a for a, b in sink_spans)
    m["streaming.kinesis_sink.records_ok"] = acks["ok"]
    m["streaming.kinesis_sink.retried"] = acks["retried"]
    m["streaming.kinesis_sink.dead_letter"] = acks["dead"]
    m["streaming.kinesis_sink.put_useful_frac"] = acks["ok"] / max(1, acks["attempts"])
    busy = [p for p in progress.values() if p["numInputRows"] > 0]
    for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                  "commitOffsets", "triggerExecution"):
        vals = [p["durationMs"].get(phase, 0) for p in busy]
        m[f"spark.trigger.{phase}_ms"] = sum(vals) / max(1, len(vals))
    # What each round's consume scan read, from the scan's own metrics
    # in the status store (the SQL executions inside the consume span).
    rounds = loop.rounds
    for r in rounds:
        s = r["consume_span"]
        r["scanned"], r["files"] = scan_stats(spark, int(s.counts["exec_from"]), int(s.counts["exec_to"]))
    consumed = sum(r["records"] for r in rounds)
    scanned = sum(r["scanned"] for r in rounds)
    m["streaming.kinesis_source.consume_s"] = tr.total("streaming.kinesis_source.consume_new_records")
    m["streaming.kinesis_source.records_consumed"] = consumed
    m["streaming.kinesis_source.records_scanned"] = scanned
    m["streaming.kinesis_source.scan_useful_frac"] = consumed / max(1, scanned)
    m["streaming.kinesis_source.blocks"] = sum(r["files"] for r in rounds)
    m["streaming.kinesis_source.commit_s"] = tr.total("streaming.kinesis_source.commit")
    m["streaming.kinesis_source.backlog_records"] = backlog_max
    m["streaming.transform.busy_s"] = tr.total("streaming.transform")
    files = glob.glob(os.path.join(loop.out_dir, "*.json"))
    m["streaming.transform.failed"] = sum(
        json.loads(line)["result"] != "Ok" for line in checks.lines(files))
    m["sinks.write_s"] = tr.total("sinks.write_jsonlines")
    m["sinks.files"] = len(files)
    m["sinks.mb_written"] = sum(os.path.getsize(f) for f in files) / 2**20
    m["bench.generator.late_ms"] = late[-1]
    # hypothesis 1: the consumer rescans the whole log every round
    half = max(1, fixed_rounds // 2)
    for label, part in (("first", rounds[:half]), ("second", rounds[half:fixed_rounds])):
        part = [r for r in part if r["scanned"]]
        ctx.notes[f"h1_scan_useful_frac_{label}_half"] = (
            sum(r["records"] for r in part) / max(1, sum(r["scanned"] for r in part)))
        ctx.notes[f"h1_files_per_round_{label}_half"] = (
            sum(r["files"] for r in part) / max(1, len(part)))
    ctx.notes.update(publish_block_probe(stream_dir, ctx.work))
    m["streaming.transport.listdir_per_put"] = ctx.notes["h2_listdir_calls_per_put_full"]


def publish_block_probe(stream_dir: str, work: str) -> dict[str, float]:
    """Hypothesis 2: ``FileStreamTransport._publish_block`` lists the shard
    directory on every put. Count ``os.listdir`` calls and time one
    single-record put into a copy of the finished log and into an empty
    stream."""
    import shutil

    from kinesis_producer_spark.streaming.kinesis_source import FileStreamTransport

    out = {}
    for label, src in (("full", stream_dir), ("empty", None)):
        probe = os.path.join(work, f"probe-{label}")
        if src:
            shutil.copytree(src, probe)
        transport = FileStreamTransport(probe, n_shards=4, fail_first_attempt_prefix="-")
        calls = [0]
        real = os.listdir

        def counting(path=".", probe=probe):
            calls[0] += str(path).startswith(probe)
            return real(path)

        os.listdir = counting
        try:
            t = time.perf_counter()
            for i in range(20):
                transport.put_records("probe", [{"Data": f"p{i}".encode(), "PartitionKey": "ACOUSTIC"}])
            dt = (time.perf_counter() - t) / 20
        finally:
            os.listdir = real
        out[f"h2_listdir_calls_per_put_{label}"] = calls[0] / 20
        out[f"h2_put_ms_{label}_log"] = dt * 1000.0
    out["h2_blocks_in_full_log"] = log_blocks(stream_dir)
    return out
