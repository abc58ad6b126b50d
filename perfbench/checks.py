"""Output checks against the generators' ground truth.

Each check returns a list of human-readable problems (empty means the
output is correct) plus the number of records it found wrong, so the
runner can both fail loudly and count failures against attempts.
"""

from __future__ import annotations

import base64
import csv
import glob
import json
import os

from gen import CurateTruth, EtlTruth, StreamRecord, audio_fingerprint_ref, row_digest


def read_flat_csv(root: str) -> list[dict[str, str]]:
    rows = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*.csv"), recursive=True)):
        with open(path, newline="") as fh:
            rows.extend(csv.DictReader(fh))
    return rows


def check_etl(flat_root: str, truth: EtlTruth, types: list[str]) -> tuple[list[str], int]:
    """Per (reading type, day): row count and the sum of row digests; for
    vehicleComponent also the parent/child edges. The day comes from
    ``readingTimestampUTC`` because a multi-day flatten writes no
    ``year=/month=/day=`` directories (a known defect of the program)."""
    problems, bad = [], 0
    got_edges = set()
    for rtype in types:
        got: dict[str, list[int]] = {}
        for row in read_flat_csv(os.path.join(flat_root, rtype)):
            day = (row.get("readingTimestampUTC") or "")[:10]
            s = got.setdefault(day, [0, 0])
            s[0] += 1
            s[1] = (s[1] + row_digest(row)) % (1 << 64)
            if rtype == "vehicleComponent":
                got_edges.add((row.get("vehicleIdentifier", ""), row.get("componentCode", ""),
                               row.get("parent_code") or ""))
        want = {d: v for (t, d), v in truth.slices.items() if t == rtype}
        for day in sorted(set(want) | set(got)):
            w, g = want.get(day, [0, 0]), got.get(day, [0, 0])
            if w != g:
                problems.append(f"{rtype} {day}: want {w[0]} rows/{w[1]:x}, got {g[0]} rows/{g[1]:x}")
                bad += max(w[0], g[0])
    if "vehicleComponent" in types and got_edges != truth.edges:
        problems.append(f"component edges differ: {len(truth.edges ^ got_edges)} edges")
    return problems, bad


def lines(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            yield from fh


def record_id(row: dict) -> str:
    """The vehicleIdentifier inside a delivered row's original payload."""
    xml = base64.b64decode(row["data"]).decode()
    return xml.split("<NS1:vehicleIdentifier>", 1)[-1].split("<", 1)[0]


def check_stream(out_dir: str, sent: dict[str, StreamRecord]) -> tuple[list[str], int]:
    """Every record committed exactly once, with its original payload and
    an ``Ok`` transform result naming the same record. Returns (problems,
    failed records)."""
    seen: dict[str, int] = {}
    problems, bad_ids = [], set()
    for line in lines(sorted(glob.glob(os.path.join(out_dir, "*.json")))):
        row = json.loads(line)
        rid = record_id(row)
        seen[rid] = seen.get(rid, 0) + 1
        rec = sent.get(rid)
        if rec is None or rec.xml != base64.b64decode(row["data"]).decode():
            bad_ids.add(rid)
            continue
        ok = row.get("result") == "Ok" and row.get("data_out")
        out = json.loads(base64.b64decode(row["data_out"])) if ok else {}
        if out.get("vehicleIdentifier") != rid:
            bad_ids.add(rid)
    for rid in sent:
        if seen.get(rid, 0) != 1:
            bad_ids.add(rid)
    extra = set(seen) - set(sent)
    if bad_ids:
        problems.append(f"{len(bad_ids)} records not delivered exactly once with their payload "
                        f"(e.g. {sorted(bad_ids)[:3]}; {len(extra)} unknown)")
    return problems, len(bad_ids & set(sent)) + len(extra)


def check_curate_batch(truth: CurateTruth, survivors: set[int], clusters: dict[int, int],
                       tokens: dict[int, int], afp: dict[int, int | None]) -> list[str]:
    """Survivors and near-duplicate families as planted, token counts and
    audio fingerprints equal to their references."""
    problems = []
    if survivors != truth.survivors:
        problems.append(f"survivors differ: {len(survivors ^ truth.survivors)} ids")
    by_label: dict[int, set[int]] = {}
    for doc, label in clusters.items():
        by_label.setdefault(label, set()).add(doc)
    got_fams = sorted(sorted(f) for f in by_label.values())
    want_fams = sorted(sorted(f) for f in truth.families)
    if got_fams != want_fams:
        problems.append(f"duplicate families differ: want {len(want_fams)}, got {len(got_fams)}")
    wrong_tok = [d for d in truth.survivors if tokens.get(d) != len(truth.texts[d].split())]
    if wrong_tok:
        problems.append(f"{len(wrong_tok)} token counts wrong")
    wrong_afp = [d for d in truth.survivors if afp.get(d) != audio_fingerprint_ref(truth.clips[d])]
    if wrong_afp:
        problems.append(f"{len(wrong_afp)} audio fingerprints wrong")
    return problems


def recall_at_k(got: dict[int, list[int]], exact: dict[int, list[int]], k: int) -> float:
    """Mean over queries of |returned ∩ exact top-k| / k."""
    return sum(len(set(got.get(q, [])[:k]) & set(ids[:k])) for q, ids in exact.items()) / (k * len(exact))
