"""Tar-archive source (SURVEY.md §2a rows 4-5).

Spark has no native tar format. The Spark-first shape: a
``binaryFile`` scan (distributed listing, 128 MB-bounded splits,
pushdown on path) followed by an Arrow-batched ``mapInPandas`` that
opens each archive with :mod:`tarfile` and emits one row per member —
the reference's member loop (decompression.py:34-39) as a streaming
per-partition operator. Archives never gather on the driver; each
task holds one archive's bytes at a time.

``tar_members`` works on any DataFrame with a binary content column,
so the same operator serves S3-style scans (``spark.read.format
("binaryFile")``) and in-flight archives built upstream.
"""

from __future__ import annotations

import io
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("archive", T.StringType()),
        T.StructField("member_name", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("size", T.LongType()),
    ]
)


def tar_members(
    df: DataFrame,
    content_col: str = "content",
    archive_col: str | None = "path",
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Explode tar archives: one row per regular member file.

    Corrupt-archive contract (same FAILFAST/PERMISSIVE convention as
    the XML source and the poisoned-blob rule the media codecs
    follow): in ``PERMISSIVE`` mode (default) a corrupt or truncated
    archive emits exactly ONE marker row — ``member_name`` null,
    ``content`` null, ``size`` −1 — and no partial members (a
    half-read archive would otherwise masquerade as a complete one,
    the same silent-prefix hazard the gunzip d.eof gate closes). In
    ``FAILFAST`` the task raises — at 100 TB that is one poisoned
    object killing the job, so it is opt-in."""
    if mode not in ("PERMISSIVE", "FAILFAST"):
        raise ValueError("mode must be PERMISSIVE or FAILFAST")
    archive_expr = F.col(archive_col) if archive_col else F.lit(None).cast("string")
    src = df.select(archive_expr.alias("archive"), F.col(content_col).alias("_bytes"))
    permissive = mode == "PERMISSIVE"

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for archive, blob in zip(pdf["archive"], pdf["_bytes"]):
                if blob is None:
                    # a NULL content cell is poisoned input like any
                    # corrupt archive — marker row, not a silent skip
                    # (skipping made null archives invisible downstream)
                    if permissive:
                        rows.append(
                            {
                                "archive": archive,
                                "member_name": None,
                                "content": None,
                                "size": -1,
                            }
                        )
                        continue
                    raise ValueError(f"null archive content: {archive}")
                archive_rows = []
                try:
                    with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tf:
                        for member in tf:
                            if not member.isfile():
                                continue
                            f = tf.extractfile(member)
                            content = f.read() if f is not None else b""
                            archive_rows.append(
                                {
                                    "archive": archive,
                                    "member_name": member.name,
                                    "content": content,
                                    "size": len(content),
                                }
                            )
                except (tarfile.TarError, EOFError, OSError, ValueError):
                    if not permissive:
                        raise
                    archive_rows = [
                        {
                            "archive": archive,
                            "member_name": None,
                            "content": None,
                            "size": -1,
                        }
                    ]
                rows.extend(archive_rows)
            yield pd.DataFrame(rows, columns=["archive", "member_name", "content", "size"])

    return src.mapInPandas(unpack, MEMBER_SCHEMA)


def read_tar_archives(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Scan a directory of tar files → one row per member.

    ``binaryFile`` provides the distributed listing + splitting the
    reference hand-rolled with its S3 batch packer (aws_utils.py:27-45).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return tar_members(reader.load(path), content_col="content", archive_col="path")


SHARD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.IntegerType()),
        T.StructField("tar_bytes", T.BinaryType()),
        T.StructField("n_members", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def pack_tar_shards(
    df: DataFrame,
    key_col: str = "key",
    content_col: str = "content",
    n_shards: int = 16,
) -> DataFrame:
    """Pack (key, content) rows into webdataset-style tar shards —
    the standard sequential-read training-data layout: one row out
    per shard, carrying the complete archive bytes. Keys are
    hash-assigned to shards (content-stable, reproducible across
    runs and cluster sizes) and sorted within each shard, and tar
    metadata (mtime/uid/gid) is zeroed, so shard bytes are
    byte-deterministic. Pair with any binary sink to land
    ``shard-{id}.tar`` files, or with ``tar_members`` to re-explode
    in-flight.

    Scale: one shuffle keyed by shard id (applyInPandas groups all
    of a shard's members into one task); shard count is the knob
    that bounds per-task memory — size shards to the usual
    webdataset ~100 MB-1 GB and n_shards to corpus_bytes/shard_size.
    Samples inside a shard are co-located for the sequential reads
    training loaders want."""
    keyed = df.select(
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_shards))
        .cast("int")
        .alias("shard_id"),
        F.col(key_col).cast("string").alias("_key"),
        F.col(content_col).alias("_content"),
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        buf = io.BytesIO()
        order = pdf.sort_values("_key", kind="mergesort")
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for key, blob in zip(order["_key"], order["_content"]):
                data = bytes(blob) if blob is not None else b""
                info = tarfile.TarInfo(name=str(key))
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tf.addfile(info, io.BytesIO(data))
        payload = buf.getvalue()
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "tar_bytes": [payload],
                "n_members": [len(pdf)],
                "n_bytes": [len(payload)],
            }
        )

    return keyed.groupBy("shard_id").applyInPandas(build, SHARD_SCHEMA)


def write_tar_shards(
    df: DataFrame,
    path: str,
    key_col: str = "key",
    content_col: str = "content",
    n_shards: int = 16,
) -> None:
    """Land packed shards as ``shard-NNNNN.tar`` files under ``path``
    (executor-side writes; the driver never sees shard bytes)."""
    import os

    from kinesis_producer_spark.commit import write_atomic

    shards = pack_tar_shards(df, key_col, content_col, n_shards)

    def land(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for sid, blob in zip(pdf["shard_id"], pdf["tar_bytes"]):
                write_atomic(os.path.join(path, f"shard-{int(sid):05d}.tar"), bytes(blob))
            yield pd.DataFrame({"n": [len(pdf)]})

    os.makedirs(path, exist_ok=True)
    shards.mapInPandas(land, "n int").write.format("noop").mode("overwrite").save()
