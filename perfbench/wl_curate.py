"""curate_serve: the LLM-data pipeline over a seeded corpus, then a
closed-loop serving phase over the ANN index it builds.

Batch phase: ``dedup.exact_dedup`` -> ``dedup.minhash_dedup`` +
``dedup.connected_components`` -> ``text.analyze`` ->
``multimodal.audio_fingerprint`` -> ``ann_index.bootstrap_index``.

Serving phase: one client alternates an ``index_upsert_writer`` epoch
(adds, upserts and deletes) plus ``ann_index.maybe_compact`` with rounds
of top-k query batches (``similarity.ivf_pq_topk_from_index`` over
``read_served_index``). Each query batch is one latency sample; its
recall@k is checked against exact cosine top-k over the live corpus.
"""

from __future__ import annotations

import os
import time

import numpy as np

import checks
import gen
from core import exec_stats

N_BASE, N_FAMILIES, FAMILY_SIZE, N_EXACT = 500, 50, 3, 50
N_ADD, N_UPSERT, N_DELETE, N_QUERY = 30, 20, 10, 8
BATCHES_PER_EPOCH = 8
BATCH_RUNS = 2  # the batch phase runs twice; wall_s is their median
EPOCH_S = 6.5  # about one serving epoch's wall on 4 cores; sets the epochs per run
K, SHORTLIST = 10, 50
RECALL_FLOOR = 0.5  # minimum mean recall@10 of every query batch


def batch_phase(ctx, docs_path: str, index_path: str):
    """Returns (codebook, survivors, clusters, tokens, afp)."""
    from pyspark.sql import functions as F

    from kinesis_producer_spark.operators import dedup, multimodal, text
    from kinesis_producer_spark.streaming import ann_index

    spark, tr = ctx.spark, ctx.tr
    docs = spark.read.parquet(docs_path)
    with tr.span("operators.dedup.exact"):
        groups = dedup.exact_dedup(docs)
        tr.noop("prefix.exact", groups)
    reps = docs.join(groups.select(F.col("rep_id").alias("doc_id")), "doc_id")
    with tr.span("operators.dedup.minhash"):
        pairs = dedup.minhash_dedup(reps)
        tr.noop("prefix.minhash", pairs)
    with tr.span("operators.dedup.cc") as s:
        clusters_df = dedup.connected_components(pairs)
        clusters = {r["doc_id"]: r["cluster_id"] for r in clusters_df.collect()}
    if tr.enabled:
        s.counts["candidate_pairs"] = dedup.lsh_candidate_pairs(
            reps.select("doc_id", dedup.minhash_signature(
                reps, dedup.shingles("text", 2), k=8).alias("signature"))).count()
        s.counts["verified_pairs"] = pairs.count()
    survivors_df = (reps.join(clusters_df, "doc_id", "left")
                    .filter(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
                    .drop("cluster_id")
                    .localCheckpoint())
    with tr.span("operators.text.analyze"):
        analyzed = text.analyze(survivors_df.select("doc_id", "text"))
        tokens = {r["doc_id"]: r["ws_tokens"] for r in analyzed.select("doc_id", "ws_tokens").collect()}
    with tr.span("operators.multimodal.audio_fingerprint"):
        fp = multimodal.audio_fingerprint(
            survivors_df.select(F.col("doc_id").alias("media_id"), F.col("clip").alias("content")))
        afp = {r["media_id"]: r["afp"] for r in fp.collect()}
    with tr.span("streaming.ann_index.bootstrap_index"):
        cb = ann_index.bootstrap_index(
            survivors_df.select(F.col("doc_id").alias("vec_id"), "embedding"), index_path)
    return cb, set(tokens), clusters, tokens, afp


def write_corpus(path: str, live: dict[int, np.ndarray]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = sorted(live)
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([live[i].tolist() for i in ids], pa.list_(pa.float32())),
    }), path)


def write_cdc(path: str, ep: gen.CdcEpoch) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = ([(i, e, "add") for i, e in ep.adds.items()]
            + [(i, e, "upsert") for i, e in ep.upserts.items()]
            + [(i, np.zeros(gen.DIM, np.float32), "delete") for i in ep.deletes])
    pq.write_table(pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1].tolist() for r in rows], pa.list_(pa.float32())),
        "op": [r[2] for r in rows],
    }), path)


def exact_topk(live: dict[int, np.ndarray], queries: list[int], k: int) -> dict[int, list[int]]:
    ids = np.array(sorted(live))
    mat = np.stack([live[i] for i in ids]).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for q in queries:
        sims = mat @ mat[np.searchsorted(ids, q)]
        order = np.lexsort((ids, -sims))
        out[q] = ids[order[:k]].tolist()
    return out


def run(ctx) -> None:
    from kinesis_producer_spark.operators.similarity import ivf_pq_topk_from_index
    from kinesis_producer_spark.streaming import ann_index

    spark, tr, w = ctx.spark, ctx.tr, ctx.work
    os.makedirs(os.path.join(w, "in"))
    docs_path = os.path.join(w, "in", "docs.parquet")
    t = time.perf_counter()
    truth = gen.gen_curate(docs_path, ctx.seed, N_BASE, N_FAMILIES, FAMILY_SIZE, N_EXACT)
    ctx.gen_s = time.perf_counter() - t

    for b in range(BATCH_RUNS):
        index_path = os.path.join(w, f"index{b}")
        ctx.rss.reset()
        t0 = time.perf_counter()
        cb, survivors, clusters, tokens, afp = batch_phase(ctx, docs_path, index_path)
        ctx.walls.append(time.perf_counter() - t0)
        ctx.peaks.append(ctx.rss.peak_mb)
        ctx.rates.append(len(truth.texts) / ctx.walls[-1])
        problems = checks.check_curate_batch(truth, survivors, clusters, tokens, afp)
        ctx.attempted += 1
        ctx.failed += bool(problems)
        ctx.problems += problems
    if tr.enabled:
        batch_layer_metrics(ctx, len(truth.survivors))

    live = {i: truth.embeddings[i] for i in truth.survivors}
    next_id = max(truth.texts) + 1
    recalls, probed, compactions = [], [], 0
    epochs = max(2, round(ctx.seconds / EPOCH_S))
    for epoch in range(epochs):
        ep = gen.gen_cdc(ctx.seed, epoch, live, next_id, N_ADD, N_UPSERT, N_DELETE,
                         N_QUERY * BATCHES_PER_EPOCH)
        cdc_path = os.path.join(w, "in", f"cdc-{epoch}.parquet")
        write_cdc(cdc_path, ep)
        for i in ep.deletes:
            del live[i]
        live.update(ep.upserts)
        live.update(ep.adds)
        next_id += len(ep.adds)
        corpus_path = os.path.join(w, "in", f"corpus-{epoch}.parquet")
        write_corpus(corpus_path, live)
        ctx.rss.reset()
        with tr.span("streaming.ann_index.upsert"):
            ann_index.index_upsert_writer(index_path, cb)(spark.read.parquet(cdc_path), epoch)
        with tr.span("streaming.ann_index.maybe_compact"):
            compactions += ann_index.maybe_compact(spark, index_path) is not None
        ctx.attempted += 1
        corpus = spark.read.parquet(corpus_path)
        for b in range(BATCHES_PER_EPOCH):
            queries = ep.queries[b * N_QUERY:(b + 1) * N_QUERY]
            t = time.perf_counter()
            with tr.span("operators.similarity.topk"):
                got_rows = ivf_pq_topk_from_index(
                    corpus, index_path, cb, query_ids=queries, k=K, shortlist=SHORTLIST,
                    index_df=ann_index.read_served_index(spark, index_path)).collect()
            ctx.latencies_ms.append((time.perf_counter() - t) * 1000.0)
            got: dict[int, list[int]] = {}
            for r in sorted(got_rows, key=lambda r: (r["query_id"], r["rank"])):
                got.setdefault(r["query_id"], []).append(r["vec_id"])
            rec = checks.recall_at_k(got, exact_topk(live, queries, K), K)
            recalls.append(rec)
            if tr.enabled:
                probed.append(probed_rows(live, queries))
            ctx.attempted += 1
            if rec < RECALL_FLOOR:
                ctx.failed += 1
                ctx.problems.append(f"epoch {epoch} batch {b}: recall@{K} {rec:.3f} < {RECALL_FLOOR}")
        ctx.peaks.append(ctx.rss.peak_mb)
    served = {r["vec_id"] for r in ann_index.read_served_index(spark, index_path).select("vec_id").collect()}
    if served != set(live):
        ctx.failed += 1
        ctx.problems.append(f"served index differs from the live corpus by {len(served ^ set(live))} ids")
    ctx.notes.update(epochs=epochs, compactions=compactions, recall_min=round(min(recalls), 3),
                     recall_mean=round(sum(recalls) / len(recalls), 3))
    if tr.enabled:
        serve_layer_metrics(ctx, index_path, compactions, recalls, probed, epochs)


def probed_rows(live: dict[int, np.ndarray], queries: list[int], bits: int = 3) -> int:
    """Live vectors in the cells a query batch probes: each query's
    sign-bit cell and its Hamming-1 neighbours (the index's default
    quantizer, ``bits=3``)."""
    def cell(e: np.ndarray) -> int:
        return sum(1 << i for i in range(bits) if e[i] > 0)

    probes = set()
    for q in queries:
        c = cell(live[q])
        probes |= {c} | {c ^ (1 << i) for i in range(bits)}
    return sum(1 for e in live.values() if cell(e) in probes)


def batch_layer_metrics(ctx, n_survivors: int) -> None:
    tr, m = ctx.tr, ctx.layer
    runs = BATCH_RUNS
    m["operators.dedup.exact_s"] = tr.total("operators.dedup.exact") / runs
    m["operators.dedup.minhash_s"] = tr.total("operators.dedup.minhash") / runs
    cc = [s for s in tr.spans if s.name == "operators.dedup.cc"]
    m["operators.dedup.cc_s"] = tr.total("operators.dedup.cc") / runs
    m["operators.dedup.cc_executions"] = cc[-1].counts["exec_to"] - cc[-1].counts["exec_from"]
    m["operators.dedup.candidate_pairs"] = cc[-1].counts["candidate_pairs"]
    m["operators.dedup.verified_pairs"] = cc[-1].counts["verified_pairs"]
    m["operators.dedup.pair_useful_frac"] = cc[-1].counts["verified_pairs"] / max(1, cc[-1].counts["candidate_pairs"])
    m["operators.text.analyze_s"] = tr.total("operators.text.analyze") / runs
    m["operators.multimodal.audio_s"] = tr.total("operators.multimodal.audio_fingerprint") / runs
    py = 0.0
    for s in tr.spans:
        if s.name == "operators.multimodal.audio_fingerprint":
            st = exec_stats(ctx.spark, int(s.counts["exec_from"]), int(s.counts["exec_to"]))
            py += ctx.check_task_time("operators.multimodal.python_s", st.python_run_s, s.end - s.start)
    m["operators.multimodal.python_s"] = py / runs
    m["operators.multimodal.ms_per_clip"] = 1000.0 * py / runs / n_survivors
    m["streaming.ann_index.bootstrap_s"] = tr.total("streaming.ann_index.bootstrap_index") / runs


def serve_layer_metrics(ctx, index_path, compactions, recalls, probed, epochs) -> None:
    from pyspark.sql import functions as F

    from kinesis_producer_spark.streaming import ann_index

    tr, m, spark = ctx.tr, ctx.layer, ctx.spark
    m["streaming.ann_index.upsert_s"] = tr.total("streaming.ann_index.upsert") / epochs
    m["streaming.ann_index.compact_s"] = tr.total("streaming.ann_index.maybe_compact") / epochs
    m["streaming.ann_index.compactions"] = compactions
    health = ann_index.index_health(spark, index_path).agg(
        F.sum("live_rows").alias("live"), F.sum("suppressed_rows").alias("dead")).collect()[0]
    live, dead = int(health["live"] or 0), int(health["dead"] or 0)
    m["streaming.ann_index.suppressed_frac"] = dead / max(1, live + dead)
    m["streaming.ann_index.files"] = sum(
        1 for _r, _d, fs in os.walk(index_path) for f in fs if f.endswith(".parquet"))
    m["operators.similarity.topk_s"] = tr.total("operators.similarity.topk") / len(recalls)
    m["operators.similarity.recall_at_k"] = sum(recalls) / len(recalls)
    m["operators.similarity.probed_rows"] = sum(probed) / len(probed)
