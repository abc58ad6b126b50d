"""Batch sinks (SURVEY.md §2a rows 6-7, 17-18).

- ``wrap_records``: the unpack stage's record envelope
  ``{payload, tenant_id, partition_id}`` (reference decompression.py:40-44)
  as a ``to_json(struct(...))`` projection.
- ``write_jsonlines``: compacted JSON-lines objects; per-file sizing via
  ``maxRecordsPerFile`` replaces the reference's hand-packed 128 MB
  batches (aws_utils.py:27-45).
- ``write_hive_partitioned_csv`` / ``..._parquet``: the flatten stage's
  partitioned layout ``<root>/<type>/year=Y/month=M/day=D/``
  (reference consts.py:8-11, file_flattener.py:157-170), with
  quote-all CSV matching ``csv.QUOTE_ALL`` (:163).

Partitioned writes get partition pruning on re-read for free; at 100 TB
the partition columns (reading_type/year/month/day) keep file counts
per partition bounded and let Catalyst prune whole days.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def wrap_records(
    df: DataFrame,
    payload_col: str | Column = "payload",
    tenant_id: str = "bhp",
    partition_id: str | Column = "partition_id",
    out_col: str = "record",
) -> DataFrame:
    """JSON record envelope: {payload, tenant_id, partition_id}."""
    payload = F.col(payload_col) if isinstance(payload_col, str) else payload_col
    part = F.lit(partition_id) if isinstance(partition_id, str) else partition_id
    rec = F.to_json(
        F.struct(
            payload.alias("payload"),
            F.lit(tenant_id).alias("tenant_id"),
            part.alias("partition_id"),
        )
    )
    return df.withColumn(out_col, rec)


def write_jsonlines(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    mode: str = "append",
) -> None:
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def write_hive_partitioned_csv(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    quote_all: bool = True,
    header: bool = True,
    mode: str = "overwrite",
) -> None:
    w = (
        df.write.mode(mode)
        .option("header", header)
        .option("quoteAll", quote_all)
        .option("emptyValue", "")
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.csv(path)


def write_hive_partitioned_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def compact_small_files(
    spark,
    path: str,
    fmt: str = "parquet",
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Small-file compaction: rewrite a dataset into ⌈total/target⌉
    files of ~``target_bytes`` each.

    The output-side mirror of the reference's greedy ≤128 MB *input*
    packer (aws_utils.py:27-45): streaming/incremental jobs accrete
    many small files, every later scan pays per-file open cost, and
    compaction restores the scan-side batch-size invariant. The
    rewrite is one repartition job (size-based file count, same
    discipline as ``repartition_by_bytes``); ``commit.swap_dir``
    publishes it with two renames, not atomically: a reader in the gap
    sees a brief, retryable ENOENT, never *partial* data, and
    ``commit.heal_swap`` restores or discards an interrupted run's
    residue at the start of the next invocation. Returns
    {files_before, files_after, bytes} for the caller's ledger.

    Skips (no-op) when the dataset already has < ``min_files`` files.
    """
    import math
    import os

    from kinesis_producer_spark.commit import heal_swap, swap_dir

    tmp = path.rstrip("/") + "._compacting"
    old = path.rstrip("/") + "._old"
    # recover an interrupted previous run BEFORE doing any work
    heal_swap(path, tmp, old)

    ext = "." + fmt
    files = []
    for root, _dirs, names in os.walk(path):
        files += [os.path.join(root, f) for f in names if f.startswith("part-") and f.endswith(ext)]
    total = sum(os.path.getsize(f) for f in files)
    if len(files) < min_files:
        return {"files_before": len(files), "files_after": len(files), "bytes": total}
    n_out = max(1, math.ceil(total / target_bytes))
    df = getattr(spark.read, fmt)(path)
    getattr(df.repartition(n_out).write.mode("overwrite"), fmt)(tmp)
    swap_dir(path, tmp, old, op="compact_small_files")
    out_files = [
        os.path.join(r, f)
        for r, _d, ns in os.walk(path)
        for f in ns
        if f.startswith("part-") and f.endswith(ext)
    ]
    return {"files_before": len(files), "files_after": len(out_files), "bytes": total}


def write_with_manifest(
    df: DataFrame,
    path: str,
    fmt: str = "json",
    partition_by: list[str] | None = None,
    dataset_type: str = "compacted",
    mode: str = "overwrite",
    rename_parts: bool = False,
) -> list[dict]:
    """Partitioned write + filename-metadata manifest.

    The reference embeds ``<type>_<n_files>_<bytes>`` in every compacted
    object name (decompression.py:46-48) and the flatten row count in
    CSV names (file_flattener.py:167-168) so downstream auditors can
    verify completeness without opening files. Spark part-file names
    carry no such metadata, so this helper writes a ``_manifest.jsonl``
    next to the data: one line per output file with
    ``{file, dataset_type, n_rows, n_bytes, name_tag}`` where
    ``name_tag = <type>_<n_rows>_<bytes>`` reproduces the reference's
    naming contract. With ``rename_parts=True`` the part files
    themselves are renamed to ``<name_tag>.<ext>`` (rename-on-commit).

    Driver-side listing is O(#files), not O(rows): per-file row counts
    come from parquet footers / a per-file count aggregation, never from
    collecting data. On object stores the listing goes through the same
    ``os``-level contract exposed by the local FS here; swap in the
    Hadoop FileSystem API when targeting s3a.

    Returns the manifest entries (also written to disk).
    """
    import json
    import os

    from kinesis_producer_spark.commit import write_atomic

    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    getattr(w, fmt)(path)

    spark = df.sparkSession
    ext = {"json": ".json", "csv": ".csv", "parquet": ".parquet", "orc": ".orc"}[fmt]
    part_files = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("part-") and f.endswith(ext):
                part_files.append(os.path.join(root, f))
    # Per-file row counts without reading data into the driver:
    # input_file_name() groupBy — one Spark job over the written files.
    from urllib.parse import unquote

    # No header option on the read-back: this function's own write path
    # emits headerless CSV, and header=True would consume the first
    # data row of every part file (n_rows off by one per file).
    counts = {
        unquote(r["file"]): r["n"]
        for r in getattr(spark.read, fmt)(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    entries = []
    for p in sorted(part_files):
        n_bytes = os.path.getsize(p)
        # Part-file *basenames* repeat across partition dirs (one task
        # writes the same part number into every partition it owns), so
        # match on the partition-relative path, not the basename.
        rel = os.path.relpath(p, path)
        uri_keys = [k for k in counts if k.endswith("/" + rel)]
        n_rows = int(counts[uri_keys[0]]) if uri_keys else 0
        tag = f"{dataset_type}_{n_rows}_{n_bytes}"
        entry = {
            "file": os.path.relpath(p, path),
            "dataset_type": dataset_type,
            "n_rows": n_rows,
            "n_bytes": n_bytes,
            "name_tag": tag,
        }
        if rename_parts:
            # a rename inside the freshly written dataset, not a publish:
            # the manifest below is what declares the output complete
            new_path = os.path.join(os.path.dirname(p), tag + ext)
            os.rename(p, new_path)
            entry["file"] = os.path.relpath(new_path, path)
        entries.append(entry)
    write_atomic(
        os.path.join(path, "_manifest.jsonl"),
        "".join(json.dumps(e) + "\n" for e in entries),
    )
    return entries
