"""Seeded input generators and their ground truth, one per workload.

Every generator is a pure function of its seed: the same seed writes
byte-identical files and returns identical truth. The program under test
only ever sees the files; the truth stays in the benchmark and feeds the
output checks in ``checks.py``.

Nothing here imports the package under test, so a change to the program
can never change the benchmark's inputs (the FLAC clips in particular are
encoded by the small encoder below, not by the package's codec).
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import tarfile
from dataclasses import dataclass, field

import numpy as np

SENSOR_NS = "http://uptake.com/bhp/1/sensors"
COMPONENT_NS = "http://www.uptake.com/bhp/1/vehicleComponent"
SIGNALS = ["ACOUSTIC", "IMPACT", "TEMPERATURE", "VISUAL"]
READING_TYPES = [*SIGNALS, "vehicleComponent"]

# Attribute vocabulary per signal type; the ones in UOM carry a unit.
SIGNAL_ATTRS = {
    "ACOUSTIC": ["RMSTotalDB", "PeakDB", "SiteName", "BearingTemp", "Speed", "Axle"],
    "IMPACT": ["VerticalPeak", "Weight", "Speed", "SiteName", "Axle", "WheelId"],
    "TEMPERATURE": ["HotBox", "HotWheel", "Ambient", "SiteName", "Speed", "Axle"],
    "VISUAL": ["BrakeShoe", "Coupler", "Gauge", "SiteName", "Speed", "Axle"],
}
UOM = {"RMSTotalDB": "db", "PeakDB": "db", "Speed": "mph", "Weight": "kip",
       "VerticalPeak": "kip", "HotBox": "F", "HotWheel": "F", "Ambient": "F"}


def row_digest(row: dict[str, str]) -> int:
    """Order-independent 64-bit digest of one output row: every
    non-empty cell as ``name=value``, sorted. Empty and missing cells
    are the same thing in a CSV, so both are skipped."""
    canon = "|".join(sorted(f"{k}={v}" for k, v in row.items() if v not in (None, "")))
    return int(hashlib.md5(canon.encode()).hexdigest()[:16], 16)


# ---------------------------------------------------------------------------
# etl_batch: a landing zone of tar-of-XML archives over several days
# ---------------------------------------------------------------------------


@dataclass
class EtlTruth:
    # (reading_type, "YYYY-MM-DD") -> [row count, sum of row digests mod 2^64]
    slices: dict[tuple[str, str], list[int]] = field(default_factory=dict)
    # vehicleComponent edges: (vehicleIdentifier, componentCode, parent_code or "")
    edges: set[tuple[str, str, str]] = field(default_factory=set)
    records: int = 0
    rows: dict[str, list[dict[str, str]]] = field(default_factory=dict)  # per reading type

    def add(self, rtype: str, day: str, row: dict[str, str]) -> None:
        self.rows.setdefault(rtype, []).append(row)
        s = self.slices.setdefault((rtype, day), [0, 0])
        s[0] += 1
        s[1] = (s[1] + row_digest(row)) % (1 << 64)


def _signal_xml(env: dict[str, str], readings: list[tuple[str, str, str | None]]) -> str:
    parts = [f'<NS1:message xmlns:NS1="{SENSOR_NS}"><NS1:messagePayload>']
    for k, v in env.items():
        parts.append(f"<NS1:{k}>{v}</NS1:{k}>")
    parts.append("<NS1:readingCollection>")
    for name, value, uom in readings:
        parts.append(
            f"<NS1:reading><NS1:attributeName>{name}</NS1:attributeName>"
            f"<NS1:attributeValue>{value}</NS1:attributeValue>"
        )
        if uom is not None:
            parts.append(f"<NS1:attributeUoM>{uom}</NS1:attributeUoM>")
        parts.append("</NS1:reading>")
    parts.append("</NS1:readingCollection></NS1:messagePayload></NS1:message>")
    return "".join(parts)


def signal_record(rng: np.random.Generator, rtype: str, vid: str, ts: str):
    """One signal message: (xml, the flat output row it must become)."""
    env = {
        "vehicleIdentifier": vid,
        "componentIdentifier": f"C{int(rng.integers(0, 500)):03d}",
        "positionInTrain": str(int(rng.integers(1, 120))),
        "typeOfReading": rtype,
        "readingTimestampUTC": ts,
        "readingLocation": f"LOC{int(rng.integers(0, 40)):02d}",
        "sourceSystem": f"SRC{int(rng.integers(0, 4))}",
    }
    attrs = SIGNAL_ATTRS[rtype]
    n = int(rng.integers(3, len(attrs) + 1))
    chosen = sorted(rng.choice(len(attrs), size=n, replace=False).tolist())
    readings = []
    row = dict(env)
    for a in chosen:
        name = attrs[a]
        if name == "SiteName":
            value = f"site_{int(rng.integers(0, 30))}"
        else:
            value = f"{rng.integers(0, 100000) / 100:.2f}"
        uom = UOM.get(name)
        readings.append((name, value, uom))
        row[name] = value
        if uom is not None:
            row[f"{name}_UoM"] = uom
    return _signal_xml(env, readings), row


def component_record(rng: np.random.Generator, vid: str, ts: str):
    """One vehicleComponent tree: (xml, output rows, edges)."""
    doc = {"vehicleIdentifier": vid, "readingTimestampUTC": ts,
           "sourceSystem": f"SRC{int(rng.integers(0, 4))}"}
    rows: list[dict[str, str]] = []
    edges: list[tuple[str, str, str]] = []
    counter = [0]

    def comp(parent: str | None, depth: int) -> str:
        counter[0] += 1
        code = f"{vid}-K{counter[0]}"
        fields = {"componentCode": code, "componentName": f"part{int(rng.integers(0, 50))}"}
        attrs = {"serialNumber": f"SN{int(rng.integers(0, 10**6)):06d}",
                 "installDate": f"20{int(rng.integers(10, 24))}-0{int(rng.integers(1, 10))}-1{int(rng.integers(0, 10))}"}
        subs = []
        if depth < 2:
            for _ in range(int(rng.integers(0, 3))):
                subs.append(comp(code, depth + 1))
        xml = [f"<NS1:component><NS1:componentCode>{code}</NS1:componentCode>"
               f"<NS1:componentName>{fields['componentName']}</NS1:componentName>"
               "<NS1:componentAttributeCollection>"]
        for k, v in attrs.items():
            xml.append(f"<NS1:attribute><NS1:name>{k}</NS1:name><NS1:value>{v}</NS1:value></NS1:attribute>")
        xml.append("</NS1:componentAttributeCollection>")
        if subs:
            xml.append("<NS1:subcomponentCollection>" + "".join(subs) + "</NS1:subcomponentCollection>")
        xml.append("</NS1:component>")
        row = {**doc, **fields, **attrs}
        if parent is not None:
            row["parent_code"] = parent
        rows.append(row)
        edges.append((vid, code, parent or ""))
        return "".join(xml)

    tops = [comp(None, 0) for _ in range(int(rng.integers(1, 3)))]
    head = "".join(f"<NS1:{k}>{v}</NS1:{k}>" for k, v in doc.items())
    xml = (f'<NS1:vehicleComponent xmlns:NS1="{COMPONENT_NS}">{head}'
           f"<NS1:componentCollection>{''.join(tops)}</NS1:componentCollection>"
           "</NS1:vehicleComponent>")
    return xml, rows, edges


def _tar_bytes(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def gen_etl(root: str, seed: int, days: int, archives: int, per_archive: int) -> EtlTruth:
    """Write ``<root>/<type>/year=2024/month=03/day=DD/archive-K.tar`` for
    every reading type and day; return the flattened output's truth."""
    rng = np.random.default_rng([seed, 1])
    truth = EtlTruth()
    for t, rtype in enumerate(READING_TYPES):
        for d in range(1, days + 1):
            day = f"2024-03-{d:02d}"
            ddir = os.path.join(root, rtype, "year=2024", "month=03", f"day={d:02d}")
            os.makedirs(ddir, exist_ok=True)
            for a in range(archives):
                members = []
                for m in range(per_archive):
                    n = a * per_archive + m
                    vid = f"V{t}{d:02d}{n:05d}"
                    ts = f"{day}T{int(rng.integers(0, 24)):02d}:{int(rng.integers(0, 60)):02d}:{int(rng.integers(0, 60)):02d}"
                    if rtype == "vehicleComponent":
                        xml, rows, edges = component_record(rng, vid, ts)
                        for row in rows:
                            truth.add(rtype, day, row)
                        truth.edges.update(edges)
                    else:
                        xml, row = signal_record(rng, rtype, vid, ts)
                        truth.add(rtype, day, row)
                    truth.records += 1
                    members.append((f"{vid}.xml", xml.encode()))
                with open(os.path.join(ddir, f"archive-{a}.tar"), "wb") as fh:
                    fh.write(_tar_bytes(members))
    return truth


# ---------------------------------------------------------------------------
# stream_loop: signal records for an open-loop arrival schedule
# ---------------------------------------------------------------------------


@dataclass
class StreamRecord:
    rid: str  # the vehicleIdentifier, unique per record
    pk: str  # partition key: the reading type, as the reference producer uses
    xml: str


def gen_stream(seed: int, n: int, prefix: str) -> list[StreamRecord]:
    rng = np.random.default_rng([seed, 2, len(prefix)])
    out = []
    for i in range(n):
        rtype = SIGNALS[int(rng.integers(0, len(SIGNALS)))]
        rid = f"{prefix}{i:06d}"
        ts = f"2024-04-01T{i // 3600 % 24:02d}:{i // 60 % 60:02d}:{i % 60:02d}"
        xml, _ = signal_record(rng, rtype, rid, ts)
        out.append(StreamRecord(rid, rtype, xml))
    return out


def write_landing_file(landing: str, staging: str, name: str, recs: list[StreamRecord]) -> None:
    """Land one JSON-lines file atomically (staged, then renamed in), the
    way a file-source producer must so the reader never sees half a file."""
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as fh:
        for r in recs:
            fh.write(json.dumps({"payload": r.xml, "pk": r.pk}) + "\n")
    os.rename(tmp, os.path.join(landing, name))


# ---------------------------------------------------------------------------
# curate_serve: a corpus with planted duplicates, embeddings and FLAC clips
# ---------------------------------------------------------------------------

CLIP_SAMPLES = 2048
DIM = 64


@dataclass
class CurateTruth:
    survivors: set[int]
    families: list[set[int]]  # planted near-duplicate families, after exact dedup
    exact_groups: list[set[int]]  # planted byte-identical groups
    texts: dict[int, str]
    clips: dict[int, np.ndarray]  # doc_id -> int16 samples
    embeddings: dict[int, np.ndarray]  # doc_id -> float32[DIM]


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


def _bits(value: int, width: int) -> np.ndarray:
    return np.array([(value >> (width - 1 - i)) & 1 for i in range(width)], np.uint8)


def encode_flac(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Mono 16-bit FLAC with one frame of ``CLIP_SAMPLES`` samples and one
    order-2 FIXED subframe, Rice-coded in a single partition (RFC 9639).
    Minimal, but it takes the decoder's Rice path like real clips do."""
    x = samples.astype(np.int64)
    if x.shape != (CLIP_SAMPLES,):
        raise ValueError(f"clip must hold {CLIP_SAMPLES} samples, got {x.shape}")
    res = x[2:] - 2 * x[1:-1] + x[:-2]
    u = np.where(res >= 0, 2 * res, -2 * res - 1)
    k = int(min(14, max(0, int(np.log2(max(1.0, float(u.mean())))))))
    q = u >> k
    lens = q + 1 + k
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    rice = np.zeros(int(lens.sum()), np.uint8)
    rice[starts + q] = 1
    for j in range(k):
        rice[starts + q + 1 + j] = (u >> (k - 1 - j)) & 1
    sub = np.concatenate([
        _bits(0, 1), _bits(8 + 2, 6), _bits(0, 1),  # FIXED order 2, no wasted bits
        _bits(int(x[0]) & 0xFFFF, 16), _bits(int(x[1]) & 0xFFFF, 16),
        _bits(0, 2), _bits(0, 4), _bits(k, 4),  # Rice, partition order 0, param
        rice,
    ])
    sub = np.concatenate([sub, np.zeros((-len(sub)) % 8, np.uint8)])
    # sync, fixed blocking, 2048-sample block, 8 kHz, mono, 16 bit, frame 0
    header = bytes([0xFF, 0xF8, (11 << 4) | 4, (0 << 4) | (4 << 1), 0x00])
    frame = header + bytes([_crc8(header)]) + np.packbits(sub).tobytes()
    frame += _crc16(frame).to_bytes(2, "big")
    info = bytearray()
    info += CLIP_SAMPLES.to_bytes(2, "big") * 2
    info += len(frame).to_bytes(3, "big") * 2
    packed = (rate << 44) | (0 << 41) | (15 << 36) | CLIP_SAMPLES
    info += packed.to_bytes(8, "big")
    info += hashlib.md5(x.astype("<i2").tobytes()).digest()
    return b"fLaC" + bytes([0x80]) + len(info).to_bytes(3, "big") + bytes(info) + frame


def _clip(rng: np.random.Generator) -> np.ndarray:
    t = np.arange(CLIP_SAMPLES)
    s = np.zeros(CLIP_SAMPLES)
    for _ in range(3):
        f = rng.uniform(40, 900)
        s += rng.uniform(500, 3000) * np.sin(2 * np.pi * f * t / 8000 + rng.uniform(0, 6.3))
    s *= 1 + 0.8 * np.sin(2 * np.pi * rng.uniform(1, 8) * t / 8000)  # moving envelope
    s += rng.normal(0, 40, CLIP_SAMPLES)
    return np.clip(np.round(s), -32768, 32767).astype(np.int16)


def gen_curate(path: str, seed: int, n_base: int, n_families: int,
               family_size: int, n_exact: int, n_clusters: int = 16) -> CurateTruth:
    """Write ``docs.parquet`` (doc_id, text, embedding, clip) and return
    the truth. Near-duplicate variants differ from their family's base by
    one word in a long text (Jaccard over word bigrams ≈ 0.98), so MinHash
    LSH finds every planted pair; unrelated documents share almost no
    bigrams. Exact copies duplicate singletons only."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    vocab = [f"w{i}" for i in range(3000)]
    centers = rng.normal(0, 1, (n_clusters, DIM))
    docs: list[tuple[str, np.ndarray, np.ndarray]] = []  # in planting order
    families_idx: list[list[int]] = []
    for _ in range(n_base):
        words = [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(150, 220)))]
        emb = (centers[int(rng.integers(0, n_clusters))] + rng.normal(0, 0.35, DIM)).astype(np.float32)
        docs.append((" ".join(words), emb, _clip(rng)))
    for f in range(n_families):
        base = f  # the first n_families base docs seed the families
        words = docs[base][0].split(" ")
        fam = [base]
        for v in range(family_size - 1):
            w = list(words)
            w[int(rng.integers(0, len(w)))] = f"x{f}v{v}"
            emb = (docs[base][1] + rng.normal(0, 0.05, DIM)).astype(np.float32)
            docs.append((" ".join(w), emb, _clip(rng)))
            fam.append(len(docs) - 1)
        families_idx.append(fam)
    exact_idx: list[list[int]] = []
    singles = list(range(n_families, n_base))
    for i in rng.choice(singles, size=n_exact, replace=False).tolist():
        docs.append(docs[i])
        exact_idx.append([i, len(docs) - 1])
    # doc ids are a permutation so duplicates are not adjacent in id order
    ids = rng.permutation(len(docs)).astype(np.int64)
    families = [{int(ids[i]) for i in fam} for fam in families_idx]
    exact_groups = [{int(ids[i]) for i in g} for g in exact_idx]
    dropped = set()
    for g in exact_groups:
        dropped |= g - {min(g)}
    for fam in families:
        dropped |= fam - {min(fam)}
    all_ids = {int(i) for i in ids}
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [d[0] for d in docs],
        "embedding": pa.array([d[1].tolist() for d in docs], pa.list_(pa.float32())),
        "clip": [encode_flac(d[2]) for d in docs],
    })
    pq.write_table(table, path)
    return CurateTruth(
        survivors=all_ids - dropped,
        families=families,
        exact_groups=exact_groups,
        texts={int(ids[i]): d[0] for i, d in enumerate(docs)},
        clips={int(ids[i]): d[2] for i, d in enumerate(docs)},
        embeddings={int(ids[i]): d[1] for i, d in enumerate(docs)},
    )


def audio_fingerprint_ref(samples: np.ndarray, frame: int = 16, n_bits: int = 63) -> int:
    """Reference for the energy-delta fingerprint the clips must produce:
    bit f is set iff frame f+1 has more energy than frame f."""
    need = (n_bits + 1) * frame
    e = (samples[:need].astype(np.int64).reshape(n_bits + 1, frame) ** 2).sum(axis=1)
    return sum(1 << i for i in range(n_bits) if e[i + 1] > e[i])


@dataclass
class CdcEpoch:
    adds: dict[int, np.ndarray]
    upserts: dict[int, np.ndarray]
    deletes: list[int]
    queries: list[int]


def gen_cdc(seed: int, epoch: int, live: dict[int, np.ndarray], next_id: int,
            n_add: int, n_upsert: int, n_delete: int, n_query: int) -> CdcEpoch:
    """One serving epoch's change set against the current live corpus, and
    the query ids of the batch that follows it. Each key appears once."""
    rng = np.random.default_rng([seed, 4, epoch])
    keys = sorted(live)
    picked = rng.choice(len(keys), size=n_upsert + n_delete, replace=False)
    ups = [keys[i] for i in picked[:n_upsert]]
    dels = [keys[i] for i in picked[n_upsert:]]
    ref = np.stack([live[k] for k in keys])
    adds = {}
    for j in range(n_add):
        adds[next_id + j] = (ref[int(rng.integers(0, len(keys)))] + rng.normal(0, 0.3, DIM)).astype(np.float32)
    upserts = {k: (live[k] + rng.normal(0, 0.3, DIM)).astype(np.float32) for k in ups}
    after = (set(keys) - set(dels)) | set(adds)
    after_sorted = sorted(after)
    queries = [after_sorted[i] for i in rng.choice(len(after_sorted), size=n_query, replace=False)]
    return CdcEpoch(adds, upserts, dels, sorted(queries))
