"""Persisted quantizer artifacts — the train-once / serve-many split
for the ANN serving family (round-9 verdict #2).

Every quantizer this engine trains is BOUNDED DRIVER CONTROL DATA
(coarse centroids: n_cells·dim ints; PQ sub-codebooks: K·dim ints —
the `_collect_codebook` discipline), so the deployable artifact is a
small, exactly-reproducible file, not a distributed dataset. At
100 TB the trainer and the server are different jobs on different
schedules: the trainer runs `train_ivf_centroids` /
`train_pq_codebooks` over the corpus once (or over a bounded
`train_sample`), writes ONE artifact, and every serving job —
batch (`ivf_pq_topk_trained(centroids=..., codebook=...)`),
index build (`ivf_pq_write_index`), streaming maintenance
(`streaming/ann_index.bootstrap_index` / `index_append_writer`) —
loads frozen quantizers instead of retraining. The staleness monitor
(q261) is the rebuild trigger: it scores exactly such a frozen
artifact against a retrain over the drifted corpus.

Format: ONE JSON file, integers only (every quantizer in this engine
is integer-exact end to end — micro-int centroids, micro-int
sub-codebooks), sorted keys, written by ``commit.write_atomic``, so a
round-trip is bit-identical by construction and a crashed writer
never leaves a half-readable artifact. Protocol metadata (Lloyd
rounds, sample spec, m_dims, cell/probe counts) rides along so a
serving job can assert it is composing compatible pieces — the
reference's snapshot has no quantizer artifacts; this is the
deployable shape of the trained-quantizer family (q257–q267).
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import uuid

from kinesis_producer_spark.commit import publish_dir, write_atomic

FORMAT_VERSION = 1

# metadata keys with enforced meaning; anything else the caller adds
# rides along untouched
_KNOWN_META = (
    "rounds", "n_cells", "nprobe", "n_centroids", "m_dims",
    "sample_rows", "residual",
)


def write_codebook(
    path: str,
    centroids: list[list[int]] | None = None,
    codebook: list[list[int]] | None = None,
    meta: dict | None = None,
    sq8_ranges: tuple[list[int], list[int]] | None = None,
) -> None:
    """Persist frozen quantizers: ``centroids`` = the coarse (IVF)
    quantizer (list index = cell id), ``codebook`` = the PQ
    sub-codebooks flattened to full-dim rows (list index = centroid
    id — exactly the shape every ``codebook=`` seam takes),
    ``sq8_ranges`` = the scalar quantizer's per-dimension (mn, span)
    lists (``sq8_train_ranges`` — the ``ranges=`` seam of the SQ8
    family), ``meta`` = the training protocol (rounds, sample spec,
    m_dims, ...) the serving job asserts against. At least one
    quantizer is required.
    Values must be plain ints — the artifact IS the bit-exactness
    contract, so floats are rejected rather than silently rounded.
    The write is atomic: a reader never observes a torn file."""
    if centroids is None and codebook is None and sq8_ranges is None:
        raise ValueError("artifact needs centroids and/or a codebook")
    rng_rows = list(sq8_ranges) if sq8_ranges is not None else None
    for name, q in (
        ("centroids", centroids),
        ("codebook", codebook),
        ("sq8_ranges", rng_rows),
    ):
        if q is None:
            continue
        for row in q:
            for v in row:
                if not isinstance(v, int):
                    raise ValueError(
                        f"{name} must be micro-ints (got {type(v).__name__}) "
                        "— quantizers in this engine are integer-exact"
                    )
    doc = {
        "format_version": FORMAT_VERSION,
        "centroids": centroids,
        "codebook": codebook,
        "sq8_ranges": rng_rows,
        "meta": dict(meta or {}),
    }
    # atomic: the artifact cache is cross-process (racing trainers)
    write_atomic(path, json.dumps(doc, sort_keys=True, separators=(",", ":")))


def read_codebook(path: str) -> dict:
    """Load a frozen quantizer artifact. Returns
    ``{"centroids": ..., "codebook": ..., "meta": {...}}`` with the
    exact integer values written — drop ``centroids`` into any
    ``centroids=`` seam and ``codebook`` into any ``codebook=`` seam
    (ivf_pq_topk_trained, ivf_pq_write_index, bootstrap_index,
    index_append_writer, ann_query_writer) and ``sq8_ranges`` into
    any ``ranges=`` seam (sq8_codes/sq8_topk/ivf_sq8_topk). Fails
    loudly on a version this reader does not understand."""
    with open(path) as fh:
        doc = json.load(fh)
    v = doc.get("format_version")
    if v != FORMAT_VERSION:
        raise ValueError(
            f"codebook artifact {path!r} has format_version {v!r}; "
            f"this reader understands {FORMAT_VERSION}"
        )
    rng = doc.get("sq8_ranges")
    return {
        "centroids": doc.get("centroids"),
        "codebook": doc.get("codebook"),
        "sq8_ranges": (rng[0], rng[1]) if rng is not None else None,
        "meta": doc.get("meta") or {},
    }


def corpus_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Content-change fingerprint of a fixture table: realpath plus
    the (name, size, mtime_ns) of every data file. Cheap (stat only —
    never reads data) and regenerated fixtures change it, so a cached
    artifact can never outlive the corpus it was trained on."""
    base = os.path.join(sf_dir, f"{table}.parquet")
    parts: list[tuple[str, int, int]] = []
    if os.path.isdir(base):
        for name in sorted(os.listdir(base)):
            st = os.stat(os.path.join(base, name))
            parts.append((name, st.st_size, st.st_mtime_ns))
    else:
        st = os.stat(base)
        parts.append((os.path.basename(base), st.st_size, st.st_mtime_ns))
    return hashlib.md5(
        repr((os.path.realpath(base), FORMAT_VERSION, parts)).encode()
    ).hexdigest()[:16]


def _cache_root(cache_root: str | None) -> str:
    root = cache_root or os.path.join(
        tempfile.gettempdir(), "kps_ann_artifact_cache"
    )
    os.makedirs(root, exist_ok=True)
    return root


def cached_artifact(
    sf_dir: str, tag: str, trainer, cache_root: str | None = None
) -> dict:
    """Train-once / serve-many for REGISTERED serving queries (the
    round-10 verdict's #2): the production split puts the trainer and
    the server in different jobs, so a serving query should load a
    frozen artifact, not pay ``rounds`` Lloyd passes per run. This
    memoizes ``trainer()`` (→ write_codebook kwargs: centroids /
    codebook / sq8_ranges / meta) under a key of (tag, corpus
    fingerprint): the first run per corpus trains and persists, every
    later run — bench passes included — deserializes the frozen
    quantizers. Training is deterministic and integer-exact, so a
    cache hit is bit-identical to a retrain BY CONSTRUCTION (the
    artifact equality is also pinned in tests); a regenerated corpus
    changes the fingerprint and retrains. Concurrency-safe: the write
    is atomic (tmp + rename) and racing trainers produce identical
    bytes."""
    path = os.path.join(
        _cache_root(cache_root), f"{tag}-{corpus_fingerprint(sf_dir)}.json"
    )
    if not os.path.exists(path):
        write_codebook(path, **trainer())
    return read_codebook(path)


def cached_index_dir(
    sf_dir: str, tag: str, builder, cache_root: str | None = None
) -> str:
    """Build-once STANDING INDEX for registered serving queries: in
    production the cell-partitioned code table is a persistent store
    built by the index-build job and kept fresh by the streaming
    writers — a serving query answers against it, it never rebuilds
    it per request. ``builder(tmp_path)`` must fully construct the
    index (data + ledger) at ``tmp_path``; the ONE atomic rename then
    publishes it, so readers only ever see complete indexes. Callers
    must treat the returned directory as READ-ONLY (maintenance ops —
    upsert/compact/rebuild — belong on per-run private copies). Keyed
    by (tag, corpus fingerprint) like ``cached_artifact``; a racing
    builder loses the rename and discards its copy."""
    path = os.path.join(
        _cache_root(cache_root), f"{tag}-{corpus_fingerprint(sf_dir)}"
    )
    if os.path.isdir(path):
        return path
    tmp = f"{path}.build-{uuid.uuid4().hex[:8]}"
    builder(tmp)
    publish_dir(tmp, path)
    return path
