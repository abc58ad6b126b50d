"""Kinesis-style streaming sink (SURVEY.md §2a rows 22-24 — north star).

The reference's producer (main.py:18-34) sends one ``put_records`` call
per event-time batch from a single process, logs per-record failures,
and drops the batch on error. This sink is the Spark-first rebuild:

- runs inside ``writeStream.foreachBatch`` (or on any batch DataFrame),
  sending **from executors in parallel** — each partition chunks its
  records and calls the transport; nothing funnels through the driver;
- respects the public AWS API limits by construction: ≤500 records and
  ≤5 MB per call, ≤1 MB per record (AWS service quotas — these bound
  the reference's ``put_records`` at main.py:20);
- inspects every response record (`ErrorCode` → failed) and **retries
  the failed subset** with exponential backoff — an explicit upgrade
  over the reference, which only logs failures (main.py:26-34);
- records still failing after ``max_retries`` become dead-letter rows
  instead of being silently dropped (reference drops the whole batch,
  main.py:45-49).

The transport is pluggable: ``RecordingTransport`` (deterministic
failure injection, for tests/oracle), ``KinesisTransport`` (boto3,
gated behind import-try — boto3 is not in this image).

At 100 TB the scale knobs are partition count (parallel put_records
streams) and Kinesis shard count; per-shard caps (1 MB/s, 1000 rec/s)
are the service-side bound, so the sink optionally pre-partitions by
partition key to keep per-shard ordering while spreading load.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_producer_spark.commit import EpochLedger, local_root, write_atomic

MAX_RECORDS_PER_CALL = 500
MAX_BYTES_PER_CALL = 5 * 1024 * 1024
MAX_BYTES_PER_RECORD = 1024 * 1024

ACK_SCHEMA = T.StructType(
    [
        T.StructField("partition_key", T.StringType()),
        T.StructField("data_md5", T.StringType()),
        T.StructField("status", T.StringType()),  # ok | dead_letter
        T.StructField("attempts", T.IntegerType()),
        T.StructField("error_code", T.StringType()),
        T.StructField("sequence_number", T.StringType()),
        T.StructField("shard_id", T.StringType()),
    ]
)


class Transport:
    """Minimal put_records contract (mirrors the AWS response shape)."""

    def put_records(self, stream_name: str, records: list[dict]) -> dict:
        raise NotImplementedError


# ---- shard hash-key ranges (the public Kinesis partition contract) ----
#
# A stream's open shards partition the 128-bit hash-key space
# [0, 2^128): each shard owns an inclusive [StartingHashKey,
# EndingHashKey] range, and a record routes to the shard whose range
# contains int(MD5(partition_key)) read big-endian (AWS Streams docs:
# "an MD5 hash function is used to map partition keys to 128-bit
# integer values and to map associated data records to shards").
# SplitShard closes a parent and opens two children over its halves;
# MergeShards closes two ADJACENT shards and opens one child over
# their union — new child ids continue the sequential numbering.

HASH_SPACE = 1 << 128


@dataclass
class Shard:
    shard_id: str
    start: int  # StartingHashKey, inclusive
    end: int  # EndingHashKey, inclusive
    open: bool = True
    parents: tuple[str, ...] = ()


def partition_key_hash(partition_key: str) -> int:
    """The Kinesis routing hash: MD5 of the UTF-8 key as a big-endian
    unsigned 128-bit integer."""
    return int.from_bytes(hashlib.md5(partition_key.encode()).digest(), "big")


class ShardMap:
    """Mutable shard topology with the AWS hash-range semantics.

    The OPEN shards always exactly partition [0, 2^128) — asserted
    after every reshard. Producers refresh their view of the map at
    batch boundaries (the DescribeStream cadence), which is how the
    tests exercise a mid-stream split: mutate between micro-batches.
    """

    def __init__(self, shards: list[Shard]):
        self.shards: dict[str, Shard] = {s.shard_id: s for s in shards}
        # Sorted-open-shards cache: shard_for_key runs PER RECORD (both
        # the transport and the rate limiter route through it), so
        # rebuilding + re-sorting the open list each call made routing
        # O(records · shards log shards) per batch. The topology only
        # changes in split()/merge(), which invalidate the cache.
        self._opens_cache: tuple[Shard, ...] | None = None
        # continue numbering past ANY existing id — len(shards) would
        # collide with custom shard lists (e.g. a lone
        # 'shardId-000000000001') and silently overwrite on split
        self._seq = 1 + max(
            (
                int(s.shard_id.rsplit("-", 1)[1])
                for s in shards
                if s.shard_id.rsplit("-", 1)[-1].isdigit()
            ),
            default=-1,
        )
        self._check_partition()

    @classmethod
    def uniform(cls, n_shards: int) -> "ShardMap":
        """n equal ranges — what CreateStream provisions."""
        step = HASH_SPACE // n_shards
        shards = [
            Shard(
                shard_id=f"shardId-{i:012d}",
                start=i * step,
                end=(i + 1) * step - 1 if i < n_shards - 1 else HASH_SPACE - 1,
            )
            for i in range(n_shards)
        ]
        return cls(shards)

    def open_shards(self) -> tuple[Shard, ...]:
        if self._opens_cache is None:
            # immutable tuple: callers cannot mutate the shared cache
            # (routing bisects over it per record), and repeat calls
            # return the identical zero-copy object
            self._opens_cache = tuple(
                sorted(
                    (s for s in self.shards.values() if s.open),
                    key=lambda s: s.start,
                )
            )
        return self._opens_cache

    def _check_partition(self) -> None:
        expect = 0
        for s in self.open_shards():
            if s.start != expect:
                raise ValueError(f"open shards do not partition the hash space at {expect}")
            expect = s.end + 1
        if expect != HASH_SPACE:
            raise ValueError("open shards do not cover the hash space")

    def shard_for_key(self, partition_key: str) -> str:
        h = partition_key_hash(partition_key)
        # bisect over the sorted open ranges
        opens = self.open_shards()
        lo, hi = 0, len(opens) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if h > opens[mid].end:
                lo = mid + 1
            else:
                hi = mid
        return opens[lo].shard_id

    def _next_id(self) -> str:
        sid = f"shardId-{self._seq:012d}"
        self._seq += 1
        return sid

    def split(self, shard_id: str, new_starting_hash_key: int | None = None) -> tuple[str, str]:
        """SplitShard: close the parent, open two children at
        [start, nshk-1] and [nshk, end] (default: midpoint)."""
        parent = self.shards[shard_id]
        if not parent.open:
            raise ValueError(f"{shard_id} is closed")
        nshk = (
            new_starting_hash_key
            if new_starting_hash_key is not None
            else parent.start + (parent.end - parent.start + 1) // 2
        )
        if not parent.start < nshk <= parent.end:
            raise ValueError("NewStartingHashKey outside the parent's range")
        parent.open = False
        a = Shard(self._next_id(), parent.start, nshk - 1, parents=(shard_id,))
        b = Shard(self._next_id(), nshk, parent.end, parents=(shard_id,))
        self.shards[a.shard_id] = a
        self.shards[b.shard_id] = b
        self._opens_cache = None
        self._check_partition()
        return a.shard_id, b.shard_id

    def merge(self, shard_id: str, adjacent_shard_id: str) -> str:
        """MergeShards: close two ADJACENT open shards, open one child
        over their combined range."""
        a, b = self.shards[shard_id], self.shards[adjacent_shard_id]
        if not (a.open and b.open):
            raise ValueError("both shards must be open")
        lo, hi = (a, b) if a.start < b.start else (b, a)
        if lo.end + 1 != hi.start:
            raise ValueError(f"{shard_id} and {adjacent_shard_id} are not adjacent")
        a.open = False
        b.open = False
        child = Shard(
            self._next_id(), lo.start, hi.end, parents=(lo.shard_id, hi.shard_id)
        )
        self.shards[child.shard_id] = child
        self._opens_cache = None
        self._check_partition()
        return child.shard_id


class RecordingTransport(Transport):
    """Deterministic in-process mock.

    Failure injection: a record fails with
    ``ProvisionedThroughputExceededException`` on attempts ≤
    ``fail_attempts_for(record)``; by default records whose data-md5
    starts with '0' fail exactly once (≈1/16 of traffic), so retry
    logic is exercised deterministically. Shard assignment follows the
    public hash-range contract via ``ShardMap`` (default: ``uniform(
    n_shards)`` — for n dividing 16, the shard index is the md5's
    first hex digit scaled by n/16, reproducible in SQL for the
    oracle). Pass a shared ``shard_map`` to model resharding.
    """

    def __init__(
        self,
        n_shards: int = 4,
        fail_first_attempt_prefix: str = "0",
        shard_map: ShardMap | None = None,
        error_schedule: Callable[[str, int], str | None] | None = None,
    ):
        self.n_shards = n_shards
        self.fail_prefix = fail_first_attempt_prefix
        self.shard_map = shard_map if shard_map is not None else ShardMap.uniform(n_shards)
        # error_schedule(data_md5, attempt_n) -> ErrorCode | None lets
        # tests inject any per-class failure pattern (throughput /
        # internal / validation); None keeps the legacy default
        # (throughput-exceeded once for '0'-prefixed md5s).
        self.error_schedule = error_schedule
        self.calls: list[list[dict]] = []
        self._attempts: dict[str, int] = {}

    def _injected_error(self, md5: str, n: int) -> str | None:
        if self.error_schedule is not None:
            return self.error_schedule(md5, n)
        if md5.startswith(self.fail_prefix) and n == 1:
            return "ProvisionedThroughputExceededException"
        return None

    def put_records(self, stream_name: str, records: list[dict]) -> dict:
        if len(records) > MAX_RECORDS_PER_CALL:
            raise ValueError(f"put_records: {len(records)} records > {MAX_RECORDS_PER_CALL}")
        total = sum(len(r["Data"]) + len(r["PartitionKey"].encode()) for r in records)
        if total > MAX_BYTES_PER_CALL:
            raise ValueError(f"put_records: {total} bytes > {MAX_BYTES_PER_CALL}")
        self.calls.append(records)
        out, failed = [], 0
        for r in records:
            md5 = hashlib.md5(r["Data"]).hexdigest()
            n = self._attempts.get(md5, 0) + 1
            self._attempts[md5] = n
            code = self._injected_error(md5, n)
            if code is not None:
                failed += 1
                out.append(
                    {
                        "ErrorCode": code,
                        "ErrorMessage": f"{code} (injected)",
                    }
                )
            else:
                out.append(
                    {
                        "SequenceNumber": f"seq-{md5[:12]}",
                        "ShardId": self.shard_map.shard_for_key(r["PartitionKey"]),
                    }
                )
        return {"FailedRecordCount": failed, "Records": out}


class KinesisTransport(Transport):
    """Real AWS transport — optional, needs boto3 + credentials."""

    def __init__(self, region_name: str | None = None):
        try:
            import boto3  # noqa: F401 — optional dependency
        except ImportError as exc:  # pragma: no cover
            raise ImportError("KinesisTransport requires boto3 (not in this image)") from exc
        import boto3

        self._client = boto3.client("kinesis", region_name=region_name)

    def put_records(self, stream_name: str, records: list[dict]) -> dict:  # pragma: no cover
        return self._client.put_records(StreamName=stream_name, Records=records)


PER_SHARD_BYTES_PER_S = 1024 * 1024
PER_SHARD_RECORDS_PER_S = 1000


class ShardRateLimiter:
    """Token-bucket limiter for the per-shard Kinesis ingest quotas
    (1 MB/s and 1,000 records/s per shard — the AWS service limits
    that bound the reference's producer at main.py:20).

    Kinesis assigns shards server-side by hashing the partition key;
    the producer-side prediction uses the same md5-derived assignment
    as ``RecordingTransport`` so tests are deterministic. Clock and
    sleeper are injectable — tests run on virtual time.

    One limiter instance lives per partition task (transport-factory
    scope); with ``repartition_by_key`` each shard's traffic flows
    through one task, so local buckets enforce the global quota. Without
    key partitioning the enforcement is per-task (conservative overall
    only if tasks ≲ shards), which is still the right backpressure
    shape: throttle at the source of the burst.

    Shard prediction always follows the hash-range contract (default:
    ``ShardMap.uniform(n_shards)`` — the same topology the transport
    routes by); buckets are keyed by shard id and created lazily with
    a full one-second allowance, so a mid-stream split RE-DERIVES the
    quota: each child shard gets its own fresh buckets (Kinesis grants
    each child the full per-shard quota), and the closed parent's
    bucket simply stops being touched.
    """

    def __init__(
        self,
        n_shards: int = 4,
        bytes_per_s: int = PER_SHARD_BYTES_PER_S,
        records_per_s: int = PER_SHARD_RECORDS_PER_S,
        clock: Callable[[], float] = time.monotonic,
        sleeper: Callable[[float], None] = time.sleep,
        shard_map: ShardMap | None = None,
    ):
        self.n_shards = n_shards
        self.bytes_per_s = bytes_per_s
        self.records_per_s = records_per_s
        # default to the SAME hash-range topology the transport routes
        # by — a %-based prediction here would group traffic differently
        # from actual shard assignment and misenforce quotas by up to
        # n_shards× (found in round-5 review)
        self.shard_map = shard_map if shard_map is not None else ShardMap.uniform(n_shards)
        self._clock = clock
        self._sleep = sleeper
        # buckets are lazy: first touch grants one second's allowance
        # (AWS buckets burst) — identical to eager creation for a fixed
        # topology, and the only correct behavior for shards born later
        self._bytes: dict = {}
        self._records: dict = {}
        self._last: dict = {}

    def shard_for(self, partition_key: str):
        return self.shard_map.shard_for_key(partition_key)

    def _ensure(self, shard) -> None:
        if shard not in self._bytes:
            self._bytes[shard] = float(self.bytes_per_s)
            self._records[shard] = float(self.records_per_s)
            self._last[shard] = self._clock()

    def _refill(self, shard) -> None:
        now = self._clock()
        dt = max(0.0, now - self._last[shard])
        self._last[shard] = now
        self._bytes[shard] = min(
            float(self.bytes_per_s), self._bytes[shard] + dt * self.bytes_per_s
        )
        self._records[shard] = min(
            float(self.records_per_s), self._records[shard] + dt * self.records_per_s
        )

    def acquire(self, shard, n_records: int, n_bytes: int) -> float:
        """Block until the shard's buckets can cover the batch, then
        charge it; returns the seconds slept (0.0 when under quota).

        A batch larger than one second's allowance cannot ever fit in
        the (capacity-capped) bucket, so the target is
        ``min(request, capacity)`` and the full request is charged
        afterward — the bucket goes negative and later acquires absorb
        the debt, keeping the long-run rate at the quota without
        deadlocking on oversized bursts."""
        slept = 0.0
        tgt_b = min(float(n_bytes), float(self.bytes_per_s))
        tgt_r = min(float(n_records), float(self.records_per_s))
        self._ensure(shard)
        while True:
            self._refill(shard)
            need_b = tgt_b - self._bytes[shard]
            need_r = tgt_r - self._records[shard]
            if need_b <= 0 and need_r <= 0:
                self._bytes[shard] -= n_bytes
                self._records[shard] -= n_records
                return slept
            wait = max(need_b / self.bytes_per_s, need_r / self.records_per_s)
            self._sleep(wait)
            slept += wait


def _chunk(records: list[dict]) -> Iterator[list[dict]]:
    """Greedy chunking under both API limits (count and bytes)."""
    batch: list[dict] = []
    size = 0
    for r in records:
        rec_size = len(r["Data"]) + len(r["PartitionKey"].encode())
        if len(r["Data"]) > MAX_BYTES_PER_RECORD:
            raise ValueError(f"record of {len(r['Data'])} bytes exceeds the 1 MB per-record limit")
        if batch and (len(batch) >= MAX_RECORDS_PER_CALL or size + rec_size > MAX_BYTES_PER_CALL):
            yield batch
            batch, size = [], 0
        batch.append(r)
        size += rec_size
    if batch:
        yield batch


AGG_MAGIC = b"KPSAGG1\x00"


def aggregate_records(
    records: list[dict], max_bytes: int = MAX_BYTES_PER_RECORD
) -> list[dict]:
    """KPL-style record aggregation: pack many small records that share
    a partition key into one ≤1 MB Kinesis record, lifting the
    1000-records/s/shard bound to a bytes bound (the real KPL's core
    trick; framing here is a documented magic + u32 length-prefix
    format rather than KPL's protobuf — deaggregate_records is the
    inverse). Order is preserved within each partition key, matching
    Kinesis per-shard ordering semantics.
    """
    by_key: dict[str, list[bytes]] = {}
    order: list[str] = []
    for r in records:
        k = r["PartitionKey"]
        if k not in by_key:
            by_key[k] = []
            order.append(k)
        by_key[k].append(r["Data"])
    out: list[dict] = []
    for k in order:
        buf = bytearray(AGG_MAGIC)
        for data in by_key[k]:
            frame = len(data).to_bytes(4, "big") + data
            if len(buf) + len(frame) > max_bytes and len(buf) > len(AGG_MAGIC):
                out.append({"Data": bytes(buf), "PartitionKey": k})
                buf = bytearray(AGG_MAGIC)
            if len(AGG_MAGIC) + len(frame) > max_bytes:
                raise ValueError("single record exceeds max aggregate size")
            buf += frame
        if len(buf) > len(AGG_MAGIC):
            out.append({"Data": bytes(buf), "PartitionKey": k})
    return out


def deaggregate_records(records: list[dict]) -> list[dict]:
    """Inverse of aggregate_records; passes non-aggregated records
    through untouched (consumers must handle mixed streams)."""
    out: list[dict] = []
    for r in records:
        data = r["Data"]
        if not data.startswith(AGG_MAGIC):
            out.append(r)
            continue
        pos = len(AGG_MAGIC)
        while pos + 4 <= len(data):
            n = int.from_bytes(data[pos : pos + 4], "big")
            payload = data[pos + 4 : pos + 4 + n]
            if len(payload) != n:
                raise ValueError("truncated aggregate frame")
            out.append({"Data": payload, "PartitionKey": r["PartitionKey"]})
            pos += 4 + n
    return out


# PutRecords per-record failure classes (the public API contract):
# - throughput-exceeded / KMS throttling: the shard is at quota —
#   retrying immediately fights the token bucket the sink sits next
#   to; back off first, then retry the same shard.
# - internal failure / service unavailable: transient server-side
#   fault — retry immediately (AWS guidance; no quota involved).
# - anything else (validation, access denied, ...): deterministic —
#   the same record fails the same way forever; retrying burns quota
#   for nothing. Dead-letter on first sight, never retry.
BACKOFF_RETRY_CODES = frozenset(
    {"ProvisionedThroughputExceededException", "KMSThrottlingException"}
)
IMMEDIATE_RETRY_CODES = frozenset({"InternalFailure", "ServiceUnavailableException"})
RETRYABLE_CODES = BACKOFF_RETRY_CODES | IMMEDIATE_RETRY_CODES


@dataclass
class KinesisSink:
    """foreachBatch-compatible writer with ack/retry/dead-letter.

    Retry policy is error-code aware (round 6): backoff-class failures
    (throughput/KMS throttling) wait out the exponential backoff
    before the next attempt; immediate-class failures (internal
    error / service unavailable) retry without sleeping; terminal
    failures (validation etc.) dead-letter on first sight and are
    never re-sent. A mixed failed set sleeps only if at least one
    pending record is backoff-class."""

    stream_name: str
    transport_factory: Callable[[], Transport]
    max_retries: int = 3
    backoff_s: float = 0.05
    repartition_by_key: bool = False
    rate_limiter_factory: Callable[[], "ShardRateLimiter"] | None = None

    def send_partition(self, records: list[dict]) -> list[dict]:
        """Send one partition's records; return one ack row per record."""
        transport = self.transport_factory()
        limiter = self.rate_limiter_factory() if self.rate_limiter_factory else None
        acks: dict[int, dict] = {}
        pending = list(enumerate(records))  # (original index, record)
        attempt = 0
        while pending and attempt <= self.max_retries:
            attempt += 1
            failed: list[tuple[int, dict]] = []
            saw_backoff_class = False
            consumed = 0
            for chunk in _chunk([r for _, r in pending]):
                piece = pending[consumed : consumed + len(chunk)]
                consumed += len(chunk)
                if limiter is not None:
                    by_shard: dict[int, list[int]] = {}
                    for rec in chunk:
                        by_shard.setdefault(limiter.shard_for(rec["PartitionKey"]), []).append(
                            len(rec["Data"]) + len(rec["PartitionKey"].encode())
                        )
                    for shard, sizes in by_shard.items():
                        limiter.acquire(shard, len(sizes), sum(sizes))
                resp = transport.put_records(self.stream_name, chunk)
                for (i, rec), r in zip(piece, resp["Records"]):
                    md5 = hashlib.md5(rec["Data"]).hexdigest()
                    if "ErrorCode" in r:
                        code = r["ErrorCode"]
                        acks[i] = {
                            "partition_key": rec["PartitionKey"],
                            "data_md5": md5,
                            "status": "dead_letter",
                            "attempts": attempt,
                            "error_code": code,
                            "sequence_number": None,
                            "shard_id": None,
                        }
                        if code in RETRYABLE_CODES:
                            failed.append((i, rec))
                            saw_backoff_class |= code in BACKOFF_RETRY_CODES
                        # terminal class: dead-letter stands, no re-send
                    else:
                        acks[i] = {
                            "partition_key": rec["PartitionKey"],
                            "data_md5": md5,
                            "status": "ok",
                            "attempts": attempt,
                            "error_code": None,
                            "sequence_number": r["SequenceNumber"],
                            "shard_id": r["ShardId"],
                        }
            pending = failed
            if pending and attempt <= self.max_retries and saw_backoff_class:
                # immediate-class-only failures skip the sleep: the
                # backoff exists to let shard quota refill, which an
                # internal error never consumed
                time.sleep(self.backoff_s * (2 ** (attempt - 1)))
        return [acks[i] for i in sorted(acks)]

    def write_batch(
        self,
        df: DataFrame,
        data_col: str | Column = "data",
        partition_key_col: str | Column = "partition_key",
    ) -> DataFrame:
        """Send a (micro-)batch; returns the ack/dead-letter DataFrame.

        Executes on executors via mapInPandas — each partition opens its
        own transport and streams its chunks. The returned ack frame is
        lazy; the caller (foreachBatch) decides where acks/dead letters
        go.
        """
        data = F.col(data_col) if isinstance(data_col, str) else data_col
        key = F.col(partition_key_col) if isinstance(partition_key_col, str) else partition_key_col
        src = df.select(data.cast("binary").alias("_data"), key.cast("string").alias("_key"))
        if self.repartition_by_key:
            src = src.repartition("_key")

        sink = self

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                entries = list(zip(pdf["_data"], pdf["_key"]))
                if not entries:
                    continue
                # Null data or partition key cannot be sent (and used to
                # crash the task — under exactly_once that wedges the
                # stream in a replay loop on the same epoch): route such
                # records straight to dead-letter acks instead.
                valid = [
                    (i, {"Data": bytes(d), "PartitionKey": k})
                    for i, (d, k) in enumerate(entries)
                    if d is not None and k is not None
                ]
                acks_by_i: dict[int, dict] = {}
                if valid:
                    sent = sink.send_partition([r for _, r in valid])
                    for (i, _), a in zip(valid, sent):
                        acks_by_i[i] = a
                for i, (d, k) in enumerate(entries):
                    if i not in acks_by_i:
                        acks_by_i[i] = {
                            "partition_key": k,
                            "data_md5": None,
                            "status": "dead_letter",
                            "attempts": 0,
                            "error_code": "NullRecord",
                            "sequence_number": None,
                            "shard_id": None,
                        }
                yield pd.DataFrame(
                    [acks_by_i[i] for i in range(len(entries))],
                    columns=ACK_SCHEMA.fieldNames(),
                )

        return src.mapInPandas(run, ACK_SCHEMA)

    def foreach_batch_writer(
        self,
        ack_path: str | None = None,
        data_col: str = "data",
        partition_key_col: str = "partition_key",
        exactly_once: bool = False,
    ) -> Callable[[DataFrame, int], None]:
        """Adapter for ``writeStream.foreachBatch``.

        Batch-level containment mirrors the reference (main.py:45-49):
        an unexpected transport explosion is logged and the stream
        continues with the next micro-batch — but unlike the reference
        the per-record path never discards silently (dead-letter rows).

        ``exactly_once=True`` adds an epoch commit ledger under
        ``ack_path``: Structured Streaming re-invokes foreachBatch with
        the SAME epoch_id after a failure, and without a ledger a
        replayed epoch double-sends to Kinesis and double-appends acks.
        The ``commit.EpochLedger`` marker is created AFTER the ack
        write commits, so the guarantee is the standard
        idempotent-commit shape: replays of a committed epoch are
        skipped entirely; a crash before the marker re-sends
        (at-least-once to the transport, whose dedup key is the record
        md5 in the acks). Requires ``ack_path``, which must pass
        ``commit.local_root`` (the ledger is local-FS).

        Layout migration (round 5): ack rows are now written
        PARTITIONED BY epoch (``epoch=N/`` subdirs). A pre-round-5
        ack_path holding flat unpartitioned parquet files can still be
        appended to — the metrics reader scans only this epoch's
        partition directory (explicit ``basePath``), never the mixed
        root — but a plain ``spark.read.parquet(ack_path)`` over such
        a mixed directory fails with conflicting structures; read
        legacy dirs with ``option("basePath", ...)`` on the partition
        subdirs, or re-write them once.

        Failure semantics differ by mode, necessarily: the default
        mode mirrors the reference's batch-level containment
        (main.py:45-49 — log and continue), which makes a failed
        epoch AT-MOST-ONCE: Structured Streaming sees foreachBatch
        return normally, commits the offsets, and never replays.
        ``exactly_once=True`` therefore RE-RAISES the failure so the
        query stops without committing and the restart replays the
        same epoch — containment and exactly-once are mutually
        exclusive, and silently keeping both would be data loss.
        """
        if exactly_once and not ack_path:
            raise ValueError("exactly_once requires ack_path (the ledger lives there)")
        ack_path = ack_path and local_root(ack_path)
        ledger = EpochLedger(ack_path) if exactly_once else None

        def write(batch_df: DataFrame, epoch_id: int) -> None:
            if ledger is not None and ledger.committed(epoch_id):
                print(f"kinesis sink: epoch {epoch_id} already committed, skipping replay")
                return
            try:
                acks = self.write_batch(batch_df, data_col, partition_key_col)
                if ack_path:
                    import uuid

                    # every write attempt gets its own id: a crashed
                    # uncommitted epoch leaves its ack rows behind (the
                    # documented at-least-once tail), and the metrics
                    # for the replay must count ONLY the replay's rows —
                    # filtering on epoch alone double-counted (found in
                    # round-5 review). Partitioning by epoch keeps the
                    # per-epoch metric scan to one partition instead of
                    # the whole ack history.
                    attempt_id = uuid.uuid4().hex
                    (
                        acks.withColumn("epoch", F.lit(epoch_id))
                        .withColumn("attempt", F.lit(attempt_id))
                        .write.partitionBy("epoch")
                        .mode("append")
                        .parquet(ack_path)
                    )
                    # per-epoch delivery counters for the monitor ledger
                    # (streaming.monitor.sink_metrics). Counted from the
                    # WRITTEN acks — re-aggregating the lazy `acks` frame
                    # would re-execute the mapInPandas stage and RE-SEND
                    # the batch. Written before the exactly-once marker,
                    # so a replayed uncommitted epoch overwrites its own
                    # row with the replay's counts.
                    self._write_epoch_metrics(
                        batch_df.sparkSession, ack_path, epoch_id, attempt_id
                    )
                else:
                    acks.foreach(lambda _: None)  # force the send
                if ledger is not None:
                    ledger.commit(epoch_id)
            except Exception as exc:  # noqa: BLE001
                print(f"kinesis sink: batch {epoch_id} failed: {exc}")
                if exactly_once:
                    # swallowing would let Spark commit the epoch's
                    # offsets → the batch is lost forever (at-most-once).
                    # Fail the query; the checkpoint restart replays
                    # this epoch_id and the ledger dedups the commit.
                    raise

        return write

    @staticmethod
    def _write_epoch_metrics(spark, ack_path: str, epoch_id: int, attempt_id: str) -> None:
        """One JSON row of delivery counters per epoch under
        ``<ack_path>/_sink_metrics`` — the restart-surviving ledger the
        monitor reads. The acks are epoch-partitioned; reading the
        epoch's partition DIRECTORY (with basePath so the epoch column
        survives) rather than filtering the root makes the prune
        explicit AND keeps a mixed pre-round-5 ack_path readable — a
        root scan over flat legacy files + epoch=N/ subdirs fails with
        conflicting directory structures. The attempt filter keeps only
        THIS write's rows (a crashed prior attempt's rows stay in the
        ack log but must not double the ledger)."""
        import json
        import os

        row = (
            spark.read.option("basePath", ack_path)
            .parquet(os.path.join(ack_path, f"epoch={epoch_id}"))
            .where(F.col("attempt") == attempt_id)
            .agg(
                F.count(F.when(F.col("status") == "ok", 1)).alias("sent"),
                F.count(
                    F.when((F.col("status") == "ok") & (F.col("attempts") > 1), 1)
                ).alias("retried"),
                F.count(F.when(F.col("status") == "dead_letter", 1)).alias(
                    "dead_lettered"
                ),
                F.count(F.when(F.col("error_code") == "NullRecord", 1)).alias(
                    "null_records"
                ),
                F.sum("attempts").alias("attempts_total"),
                # dead-letter split by error class (round 6): throttle/
                # internal deaths exhausted their retries; terminal
                # deaths were never retried by policy
                F.count(
                    F.when(F.col("error_code").isin(list(BACKOFF_RETRY_CODES)), 1)
                ).alias("dead_throttle"),
                F.count(
                    F.when(F.col("error_code").isin(list(IMMEDIATE_RETRY_CODES)), 1)
                ).alias("dead_internal"),
                F.count(
                    F.when(
                        (F.col("status") == "dead_letter")
                        & ~F.coalesce(
                            F.col("error_code").isin(
                                list(RETRYABLE_CODES) + ["NullRecord"]
                            ),
                            F.lit(False),
                        ),
                        1,
                    )
                ).alias("dead_terminal"),
            )
            .collect()[0]
        )
        mdir = os.path.join(ack_path, "_sink_metrics")
        os.makedirs(mdir, exist_ok=True)
        payload = {
            "epoch": epoch_id,
            "sent": row["sent"],
            "retried": row["retried"],
            "dead_lettered": row["dead_lettered"],
            "null_records": row["null_records"],
            "attempts_total": int(row["attempts_total"] or 0),
            "dead_throttle": row["dead_throttle"],
            "dead_internal": row["dead_internal"],
            "dead_terminal": row["dead_terminal"],
        }
        write_atomic(os.path.join(mdir, f"epoch-{epoch_id}.json"), json.dumps(payload))
