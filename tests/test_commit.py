"""The commit discipline of ``kinesis_producer_spark/commit.py``.

Every durable state change in the package goes through that module, so
one crash matrix covers all of them. For each commit user the matrix
first runs the user's protocol once and counts the atomic primitives
commit.py makes (``os.replace``, ``os.rename``, ``os.link``, an
``O_EXCL`` ``os.open``, an ``"x"``-mode ``open``). Then, for every k,
it crashes at the k-th one — once before the call runs and once right
after it — and requires one of two outcomes:

- the readers see the pre-state, and a retry reaches the crash-free
  result (or the readers already see the crash-free result); or
- the readers raise the documented recovery error, and following that
  error's recovery instruction leads to the same place.

A guard test keeps the primitives inside commit.py, so a new publish
cannot grow its own protocol beside it.
"""

from __future__ import annotations

import ast
import builtins
import contextlib
import json
import os
import re
import shutil
import sys
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from conftest import SF_SMOKE  # noqa: E402
from kinesis_producer_spark import commit  # noqa: E402


class Crash(Exception):
    """The injected crash."""


@contextlib.contextmanager
def crash_at(k: int | None = None, after: bool = False):
    """Count the atomic primitives commit.py calls inside the block and
    raise ``Crash`` at the k-th one: instead of the call, or right after
    it when ``after``. Calls from anywhere else pass through."""
    calls: list[str] = []

    def hook(name: str, real: Callable, is_primitive: Callable[..., bool]):
        def fake(*a, **kw):
            caller = sys._getframe(1).f_globals.get("__name__")
            if caller != commit.__name__ or not is_primitive(*a, **kw):
                return real(*a, **kw)
            calls.append(name)
            if len(calls) != k:
                return real(*a, **kw)
            if after:
                out = real(*a, **kw)
                if name == "os.open":
                    os.close(out)
                elif name == "open":
                    out.close()
            raise Crash(f"crash at {name} #{k} ({'after' if after else 'before'})")

        return fake

    def always(*a, **kw):
        return True

    def excl(path, flags, *a, **kw):
        return bool(flags & os.O_EXCL)

    def x_mode(file, mode="r", *a, **kw):
        return "x" in mode

    with pytest.MonkeyPatch.context() as mp:
        for name in ("replace", "rename", "link"):
            mp.setattr(os, name, hook(f"os.{name}", getattr(os, name), always))
        mp.setattr(os, "open", hook("os.open", os.open, excl))
        mp.setattr(commit, "open", hook("open", builtins.open, x_mode), raising=False)
        yield calls


@dataclass
class User:
    """One commit user. ``make(root)`` builds the pre-state under a
    fresh directory, ``run(root)`` performs the protocol, ``observe``
    reads the state back through the user's readers, and ``recover``
    follows the recovery instruction of an error matching ``recovery``."""

    make: Callable[[str], None]
    run: Callable[[str], None]
    observe: Callable[[str], object]
    recovery: str | None = None
    recover: Callable[[str], None] | None = None


def _observe_or_recover(user: User, root: str):
    try:
        return user.observe(root)
    except Exception as exc:  # noqa: BLE001 - matched against the documented error
        if user.recovery is None or not re.search(user.recovery, str(exc)):
            raise
        user.recover(root)
        return user.observe(root)


def _retry(user: User, root: str) -> None:
    try:
        user.run(root)
    except RuntimeError as exc:
        if user.recovery is None or not re.search(user.recovery, str(exc)):
            raise
        user.recover(root)
        user.run(root)


def _crash_matrix(user: User, tmp_path: Path) -> int:
    template = str(tmp_path / "template")
    os.makedirs(template)
    user.make(template)
    pre = user.observe(template)
    ref = str(tmp_path / "ref")
    shutil.copytree(template, ref)
    with crash_at() as calls:
        user.run(ref)
    post = user.observe(ref)
    assert calls, "the protocol made no commit.py primitive call"
    assert post != pre
    for k in range(1, len(calls) + 1):
        for after in (False, True):
            case = str(tmp_path / f"k{k}-{'after' if after else 'before'}")
            shutil.copytree(template, case)
            with crash_at(k, after):
                with pytest.raises(Crash):
                    user.run(case)
            state = _observe_or_recover(user, case)
            assert state in (pre, post), (calls[k - 1], k, after, state)
            if state == pre:
                _retry(user, case)
                assert user.observe(case) == post, (calls[k - 1], k, after)
    return len(calls)


def _embeddings(spark):
    return spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )


def _index_rows(spark, idx: str):
    from kinesis_producer_spark.streaming import ann_index

    rows = ann_index.read_committed_index(spark, idx).collect()
    return (
        ann_index.committed_epochs(idx),
        sorted((r.vec_id, r.cell, tuple(r.codes or ()), r.epoch) for r in rows),
    )


def _index_recovery(idx: str) -> None:
    # the recovery the maintenance errors document: remove a lock no
    # live op holds, rename .precompact back, drop .compacting
    with contextlib.suppress(FileNotFoundError):
        os.remove(idx + ".compact.lock")
    if not os.path.exists(idx) and os.path.isdir(idx + ".precompact"):
        os.replace(idx + ".precompact", idx)
    shutil.rmtree(idx + ".compacting", ignore_errors=True)


def _sink_epoch(spark) -> User:
    from kinesis_producer_spark.streaming.kinesis_sink import (
        KinesisSink,
        RecordingTransport,
    )

    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    batch = docs.orderBy("doc_id").limit(40).select(
        F.col("text").cast("binary").alias("data"),
        F.col("doc_id").cast("string").alias("partition_key"),
    )
    sink = KinesisSink(
        "s", lambda: RecordingTransport(fail_first_attempt_prefix="zz"), backoff_s=0.0
    )

    def run(root):
        sink.foreach_batch_writer(ack_path=os.path.join(root, "acks"), exactly_once=True)(batch, 0)

    def observe(root):
        # the committed facts: the exactly-once ledger and the metrics row
        # of a committed epoch (an uncommitted epoch's row is the
        # documented at-least-once tail, overwritten by its replay)
        acks = os.path.join(root, "acks")
        if not os.path.exists(os.path.join(acks, "_epoch_ledger", "epoch-0")):
            return None
        with open(os.path.join(acks, "_sink_metrics", "epoch-0.json")) as fh:
            return json.load(fh)

    return User(make=lambda root: None, run=run, observe=observe)


def _index_append(spark) -> User:
    from kinesis_producer_spark.streaming import ann_index

    e = _embeddings(spark)
    cb = {}

    def make(root):
        cb["cb"] = ann_index.bootstrap_index(
            e.filter(F.col("vec_id") % 10 != 0), os.path.join(root, "idx"),
            n_centroids=16, m_dims=8, bits=3,
        )

    def run(root):
        write = ann_index.index_append_writer(os.path.join(root, "idx"), cb["cb"])
        write(e.filter(F.col("vec_id") % 10 == 0), 0)

    return User(make=make, run=run, observe=lambda root: _index_rows(spark, os.path.join(root, "idx")))


def _results_epoch(spark) -> User:
    from kinesis_producer_spark.streaming import ann_index

    e = _embeddings(spark)
    cb = {}

    def make(root):
        cb["cb"] = ann_index.bootstrap_index(
            e, os.path.join(root, "idx"), n_centroids=16, m_dims=8, bits=3
        )

    def run(root):
        write = ann_index.ann_query_writer(
            os.path.join(root, "res"), os.path.join(root, "idx"), e, cb["cb"]
        )
        write(e.filter(F.col("vec_id") < 3).select("vec_id"), 0)

    def observe(root):
        res = os.path.join(root, "res")
        rows = ann_index.read_committed_results(spark, res).collect()
        return ann_index.committed_epochs(res), sorted(map(tuple, rows))

    return User(make=make, run=run, observe=observe)


def _churned_index(spark, root: str, gap: bool) -> None:
    """Bootstrap plus add/upsert/delete epochs; ``gap`` leaves epoch 1
    uncommitted below a committed epoch 2."""
    from kinesis_producer_spark.streaming import ann_index

    e = _embeddings(spark)
    idx = os.path.join(root, "idx")
    cb = ann_index.bootstrap_index(
        e.filter(F.col("vec_id") % 10 != 0), idx, n_centroids=16, m_dims=8, bits=3
    )
    w = ann_index.index_upsert_writer(idx, cb)
    neg = F.transform(F.col("embedding"), lambda x: -x)
    w(e.filter(F.col("vec_id") % 10 == 0).withColumn("op", F.lit("add")), 0)
    if not gap:
        w(e.filter(F.col("vec_id") % 20 == 0)
          .select("vec_id", neg.alias("embedding"), F.lit("upsert").alias("op")), 1)
    w(e.filter(F.col("vec_id") % 30 == 0).withColumn("op", F.lit("delete")), 2)


def _compact_index(spark) -> User:
    from kinesis_producer_spark.streaming import ann_index

    return User(
        make=lambda root: _churned_index(spark, root, gap=True),
        run=lambda root: ann_index.compact_index(spark, os.path.join(root, "idx")),
        observe=lambda root: _index_rows(spark, os.path.join(root, "idx")),
        recovery=r"precompact|compact\.lock",
        recover=lambda root: _index_recovery(os.path.join(root, "idx")),
    )


def _rebuild_index(spark) -> User:
    from kinesis_producer_spark.streaming import ann_index

    e = _embeddings(spark)
    neg = F.transform(F.col("embedding"), lambda x: -x)
    corpus = e.filter(F.col("vec_id") % 30 != 0).withColumn(
        "embedding",
        F.when(F.col("vec_id") % 20 == 0, neg).otherwise(F.col("embedding")),
    )

    def observe(root):
        idx = os.path.join(root, "idx")
        rows = ann_index.read_served_index(spark, idx).collect()
        return (
            ann_index.committed_epochs(idx),
            sorted((r.vec_id, r.cell, tuple(r.codes)) for r in rows),
        )

    return User(
        make=lambda root: _churned_index(spark, root, gap=False),
        run=lambda root: ann_index.rebuild_index(spark, corpus, os.path.join(root, "idx")),
        observe=observe,
        recovery=r"precompact|compact\.lock",
        recover=lambda root: _index_recovery(os.path.join(root, "idx")),
    )


def _compact_small_files(spark) -> User:
    from kinesis_producer_spark.sinks import compact_small_files

    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))

    def make(root):
        docs.select("doc_id", "lang").repartition(8).write.parquet(os.path.join(root, "ds"))

    def run(root):
        compact_small_files(spark, os.path.join(root, "ds"), target_bytes=1 << 20)

    def observe(root):
        ds = os.path.join(root, "ds")
        rows = sorted(map(tuple, spark.read.parquet(ds).collect()))
        n_parts = sum(f.startswith("part-") for _r, _d, fs in os.walk(ds) for f in fs)
        return rows, n_parts

    # a reader in the swap gap gets a missing path; the documented
    # recovery is the next invocation, which heals the residue first
    return User(make=make, run=run, observe=observe,
                recovery="PATH_NOT_FOUND|Path does not exist", recover=run)


def _checkpoint(spark) -> User:
    from kinesis_producer_spark.streaming.kinesis_source import ShardCheckpoint

    def run(root):
        ShardCheckpoint(os.path.join(root, "pos.json")).commit(
            {"shardId-000000000001": "00000003.00002"}
        )

    def observe(root):
        ck = ShardCheckpoint(os.path.join(root, "pos.json"))
        return ck.read(), ck.done_ranges(), sorted(os.listdir(root))

    def make(root):
        ShardCheckpoint(os.path.join(root, "pos.json")).commit(
            {"shardId-000000000000": "00000001.00004"}
        )

    return User(make=make, run=run, observe=observe)


def _topology(spark) -> User:
    from kinesis_producer_spark.streaming.kinesis_sink import ShardMap
    from kinesis_producer_spark.streaming.kinesis_source import (
        FileStreamTransport,
        load_topology,
    )

    def make(root):
        FileStreamTransport(os.path.join(root, "stream"), n_shards=2)

    def run(root):
        smap = ShardMap.uniform(2)
        smap.split(smap.open_shards()[0].shard_id)
        FileStreamTransport(os.path.join(root, "stream"), shard_map=smap)

    def observe(root):
        sd = os.path.join(root, "stream")
        return load_topology(sd), sorted(os.listdir(sd))

    return User(make=make, run=run, observe=observe)


def _block_claim(spark) -> User:
    from kinesis_producer_spark.streaming.kinesis_source import FileStreamTransport

    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    records = [
        {"Data": r.text.encode(), "PartitionKey": str(r.doc_id)}
        for r in docs.orderBy("doc_id").limit(6).collect()
    ]

    def producer(root):
        return FileStreamTransport(
            os.path.join(root, "stream"), n_shards=1, fail_first_attempt_prefix="zz"
        )

    def make(root):
        producer(root).put_records("s", records[:3])

    def run(root):
        out = producer(root).put_records("s", records[3:])
        assert out["FailedRecordCount"] == 0

    def observe(root):
        sd = os.path.join(root, "stream")
        blocks = {}
        for shard in sorted(n for n in os.listdir(sd) if n.startswith("shardId-")):
            for name in sorted(os.listdir(os.path.join(sd, shard))):
                with open(os.path.join(sd, shard, name)) as fh:
                    blocks[f"{shard}/{name}"] = fh.read()
        return blocks

    return User(make=make, run=run, observe=observe)


def _codebook(spark) -> User:
    from kinesis_producer_spark.operators.ann_artifacts import (
        read_codebook,
        write_codebook,
    )
    from kinesis_producer_spark.operators.similarity import _collect_codebook

    cb = _collect_codebook(_embeddings(spark), "vec_id", "embedding", 4)

    def observe(root):
        return read_codebook(os.path.join(root, "quant.json")), sorted(os.listdir(root))

    return User(
        make=lambda root: write_codebook(os.path.join(root, "quant.json"), codebook=cb[:2]),
        run=lambda root: write_codebook(
            os.path.join(root, "quant.json"), codebook=cb, meta={"m_dims": 8}
        ),
        observe=observe,
    )


def _cached_index_dir(spark) -> User:
    from kinesis_producer_spark.operators.ann_artifacts import (
        cached_index_dir,
        corpus_fingerprint,
    )
    from kinesis_producer_spark.streaming import ann_index

    e = _embeddings(spark)

    def run(root):
        cached_index_dir(
            SF_SMOKE, "crash",
            lambda p: ann_index.bootstrap_index(e, p, n_centroids=16, m_dims=8, bits=3),
            cache_root=root,
        )

    def observe(root):
        path = os.path.join(root, f"crash-{corpus_fingerprint(SF_SMOKE)}")
        return _index_rows(spark, path) if os.path.isdir(path) else None

    return User(make=lambda root: None, run=run, observe=observe)


def _manifest(spark) -> User:
    from kinesis_producer_spark.sinks import write_with_manifest

    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))

    def run(root):
        write_with_manifest(
            docs.select("doc_id", "lang").coalesce(2), os.path.join(root, "out"),
            dataset_type="docs",
        )

    def observe(root):
        out = os.path.join(root, "out")
        man = os.path.join(out, "_manifest.jsonl")
        if not os.path.exists(man):
            return None
        with open(man) as fh:
            entries = [json.loads(line) for line in fh]
        assert all(os.path.exists(os.path.join(out, e["file"])) for e in entries)
        # part-file names carry a per-job id; the audit facts do not
        return sorted((e["n_rows"], e["n_bytes"]) for e in entries)

    return User(make=lambda root: None, run=run, observe=observe)


USERS = {
    "sink_epoch": (_sink_epoch, 2),
    "index_append": (_index_append, 1),
    "results_epoch": (_results_epoch, 1),
    "compact_index": (_compact_index, 4),
    "rebuild_index": (_rebuild_index, 3),
    "compact_small_files": (_compact_small_files, 2),
    "checkpoint": (_checkpoint, 1),
    "topology": (_topology, 1),
    "codebook": (_codebook, 1),
    "cached_index_dir": (_cached_index_dir, 2),
    "block_claim": (_block_claim, 2),
    "manifest": (_manifest, 1),
}


@pytest.mark.parametrize("name", sorted(USERS))
def test_crash_matrix(spark, tmp_path, name):
    make_user, n_primitives = USERS[name]
    assert _crash_matrix(make_user(spark), tmp_path) == n_primitives


_ALLOWED = {("sinks.py", "write_with_manifest", "os.rename")}


def _primitive(node: ast.AST) -> str | None:
    if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
        if node.value.id == "os" and node.attr in ("replace", "rename", "link", "O_EXCL"):
            return f"os.{node.attr}"
    elif isinstance(node, ast.ImportFrom) and node.module == "os":
        names = [a.name for a in node.names if a.name in ("replace", "rename", "link", "O_EXCL")]
        if names:
            return f"from os import {', '.join(names)}"
    elif isinstance(node, ast.Call) and isinstance(node.func, ast.Name) and node.func.id == "open":
        modes = node.args[1:2] + [k.value for k in node.keywords if k.arg == "mode"]
        if any(isinstance(m, ast.Constant) and "x" in str(m.value) for m in modes):
            return 'open(..., "x")'
    return None


def _primitive_sites(path: Path) -> list[tuple[str, str]]:
    """(innermost enclosing function, primitive) for every atomic
    primitive in one module."""
    sites = []

    def visit(node: ast.AST, owner: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            owner = node.name
        prim = _primitive(node)
        if prim is not None:
            sites.append((owner, prim))
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    visit(ast.parse(path.read_text()), "<module>")
    return sites


def test_atomic_primitives_live_only_in_commit_module():
    """Only commit.py renames, links or exclusively creates files. The
    one exception is the part-file rename inside
    ``sinks.write_with_manifest``, which publishes nothing: the
    manifest written after it does."""
    pkg = Path(commit.__file__).parent
    found = set()
    for path in sorted(pkg.rglob("*.py")):
        if path == Path(commit.__file__):
            continue
        for owner, prim in _primitive_sites(path):
            found.add((str(path.relative_to(pkg)), owner, prim))
    assert found == _ALLOWED
    assert set(_primitive_sites(Path(commit.__file__)))


def test_index_paths_take_local_uris_and_reject_remote_ones(spark, tmp_path, monkeypatch):
    """Index and results paths go through ``commit.local_root``: a
    ``file://`` index keeps its ledger beside its data and reads back
    every row (a literal ``os.makedirs`` of the URI used to put the
    ledger under ``./file:/...`` while Spark wrote the data to the real
    path, and the reader then served an empty index); a remote URI is
    rejected before anything is written."""
    from kinesis_producer_spark.streaming import ann_index

    monkeypatch.chdir(tmp_path)
    e = _embeddings(spark)
    idx = tmp_path / "idx"
    cb = ann_index.bootstrap_index(e, f"file://{idx}", n_centroids=16, m_dims=8, bits=3)
    assert ann_index.read_committed_index(spark, f"file://{idx}").count() == e.count()
    assert ann_index.read_committed_index(spark, str(idx)).count() == e.count()
    assert ann_index.committed_epochs(f"file://{idx}") == [ann_index.BOOTSTRAP_EPOCH]
    assert sorted(os.listdir(tmp_path)) == ["idx"]

    remote = "s3a://bucket/idx"
    for call in (
        lambda: ann_index.bootstrap_index(e, remote, n_centroids=16, m_dims=8, bits=3),
        lambda: ann_index.index_append_writer(remote, cb),
        lambda: ann_index.ann_query_writer(remote, str(idx), e, cb),
        lambda: ann_index.read_committed_index(spark, remote),
        lambda: ann_index.compact_index(spark, remote),
    ):
        with pytest.raises(ValueError, match="scheme 's3a' is not supported"):
            call()
    assert sorted(os.listdir(tmp_path)) == ["idx"]
