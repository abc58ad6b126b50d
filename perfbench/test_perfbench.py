"""Tests for the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q

- every generator is deterministic per seed;
- every output check fails on a deliberately corrupted output;
- the tail helper picks the highest percentile with >= 10 samples beyond;
- the memory sampler drops a sample that was started before a reset;
- BENCHMARK.json keeps its format, and every metric it declares is
  emitted under a well-formed name.
"""

from __future__ import annotations

import base64
import csv
import filecmp
import json
import os
import re
import sys
import threading
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

import checks  # noqa: E402
import core  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


# ---------------------------------------------------------------------------
# generators are deterministic per seed
# ---------------------------------------------------------------------------


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    return all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_etl_generator_is_deterministic(tmp_path):
    t1 = gen.gen_etl(str(tmp_path / "a"), 7, 2, 1, 4)
    t2 = gen.gen_etl(str(tmp_path / "b"), 7, 2, 1, 4)
    t3 = gen.gen_etl(str(tmp_path / "c"), 8, 2, 1, 4)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert (t1.slices, t1.edges, t1.records) == (t2.slices, t2.edges, t2.records)
    assert t1.slices != t3.slices
    assert {t for t, _d in t1.slices} == set(gen.READING_TYPES) and t1.edges


def test_stream_generator_is_deterministic():
    assert gen.gen_stream(3, 50, "F") == gen.gen_stream(3, 50, "F")
    assert gen.gen_stream(3, 50, "F") != gen.gen_stream(4, 50, "F")
    assert len({r.rid for r in gen.gen_stream(3, 50, "F")}) == 50


def test_curate_generator_is_deterministic(tmp_path):
    import pyarrow.parquet as pq

    args = (20, 4, 3, 3)
    t1 = gen.gen_curate(str(tmp_path / "a.parquet"), 5, *args)
    t2 = gen.gen_curate(str(tmp_path / "b.parquet"), 5, *args)
    t3 = gen.gen_curate(str(tmp_path / "c.parquet"), 6, *args)
    assert pq.read_table(tmp_path / "a.parquet").equals(pq.read_table(tmp_path / "b.parquet"))
    assert (t1.survivors, t1.families, t1.exact_groups) == (t2.survivors, t2.families, t2.exact_groups)
    assert t1.texts != t3.texts
    live = dict(t1.embeddings)
    e1 = gen.gen_cdc(5, 0, live, 100, 3, 2, 1, 4)
    e2 = gen.gen_cdc(5, 0, live, 100, 3, 2, 1, 4)
    assert e1.queries == e2.queries and e1.deletes == e2.deletes
    assert all(np.array_equal(e1.upserts[k], e2.upserts[k]) for k in e1.upserts)


def test_flac_clips_decode_with_the_package_codec():
    sys.path.insert(0, ROOT)
    from kinesis_producer_spark.operators.flac import decode_flac

    clip = gen._clip(np.random.default_rng(1))
    samples, rate = decode_flac(gen.encode_flac(clip))
    assert rate == 8000 and np.array_equal(samples[:, 0], clip)


# ---------------------------------------------------------------------------
# output checks fail on corrupted outputs
# ---------------------------------------------------------------------------


def _write_flat(root: str, truth: gen.EtlTruth, mutate=None) -> None:
    for rtype, rows in truth.rows.items():
        rows = list(rows)
        if mutate and rtype == "IMPACT":
            rows = mutate(rows)
        cols = sorted({k for r in rows for k in r})
        os.makedirs(os.path.join(root, rtype))
        with open(os.path.join(root, rtype, "part-00000.csv"), "w", newline="") as fh:
            w = csv.DictWriter(fh, cols, quoting=csv.QUOTE_ALL)
            w.writeheader()
            w.writerows(rows)


@pytest.mark.parametrize("mutate", [
    lambda rows: rows[1:],  # one record dropped
    lambda rows: rows + rows[:1],  # one record duplicated
    lambda rows: [{**rows[0], "Speed": "0.01"}] + rows[1:],  # one value changed
])
def test_etl_check_fails_on_corruption(tmp_path, mutate):
    truth = gen.gen_etl(str(tmp_path / "landing"), 3, 2, 1, 5)
    _write_flat(str(tmp_path / "good"), truth)
    assert checks.check_etl(str(tmp_path / "good"), truth, gen.READING_TYPES) == ([], 0)
    _write_flat(str(tmp_path / "bad"), truth, mutate)
    problems, bad = checks.check_etl(str(tmp_path / "bad"), truth, gen.READING_TYPES)
    assert problems and bad > 0


def _write_stream_out(path: str, recs: list[gen.StreamRecord]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.json"), "w") as fh:
        for r in recs:
            out = base64.b64encode(json.dumps({"vehicleIdentifier": r.rid}).encode()).decode()
            fh.write(json.dumps({"data": base64.b64encode(r.xml.encode()).decode(),
                                 "result": "Ok", "data_out": out}) + "\n")


@pytest.mark.parametrize("mutate", [
    lambda recs: recs[1:],
    lambda recs: recs + recs[:1],
    lambda recs: [gen.StreamRecord(recs[0].rid, recs[0].pk, recs[0].xml.replace("SRC", "CRS"))] + recs[1:],
])
def test_stream_check_fails_on_corruption(tmp_path, mutate):
    recs = gen.gen_stream(9, 20, "F")
    sent = {r.rid: r for r in recs}
    _write_stream_out(str(tmp_path / "good"), recs)
    assert checks.check_stream(str(tmp_path / "good"), sent) == ([], 0)
    _write_stream_out(str(tmp_path / "bad"), mutate(recs))
    problems, bad = checks.check_stream(str(tmp_path / "bad"), sent)
    assert problems and bad == 1


def test_curate_check_fails_on_corruption(tmp_path):
    truth = gen.gen_curate(str(tmp_path / "d.parquet"), 2, 20, 4, 3, 3)
    clusters = {d: min(f) for f in truth.families for d in f}
    tokens = {d: len(truth.texts[d].split()) for d in truth.survivors}
    afp = {d: gen.audio_fingerprint_ref(truth.clips[d]) for d in truth.survivors}
    good = (set(truth.survivors), clusters, tokens, afp)
    assert checks.check_curate_batch(truth, *good) == []
    some = min(truth.survivors)
    bad_inputs = [
        (set(truth.survivors) - {some}, clusters, tokens, afp),
        (set(truth.survivors), {**clusters, some: min(clusters.values())}, tokens, afp),
        (set(truth.survivors), clusters, {**tokens, some: 0}, afp),
        (set(truth.survivors), clusters, tokens, {**afp, some: None}),
    ]
    for inputs in bad_inputs:
        assert checks.check_curate_batch(truth, *inputs)


def test_recall_at_k():
    exact = {1: [1, 2, 3], 2: [2, 4, 6]}
    assert checks.recall_at_k(exact, exact, 3) == 1.0
    assert checks.recall_at_k({1: [1, 2, 9], 2: [2, 4, 6]}, exact, 3) == pytest.approx(5 / 6)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def test_tail_picks_highest_percentile_with_ten_beyond():
    values = [float(v) for v in range(100, 0, -1)]
    value, pct, n = core.tail(values)
    assert (value, n) == (90.0, 100) and pct == pytest.approx(90.0)
    assert sum(v > value for v in values) == 10
    value, pct, n = core.tail(list(range(11)))
    assert (value, n) == (0, 11) and sum(v > value for v in range(11)) == 10
    with pytest.raises(ValueError):
        core.tail(list(range(10)))


def test_rss_sample_started_before_reset_is_dropped(monkeypatch):
    started, release = threading.Event(), threading.Event()

    def fake_tree_rss_mb():
        if threading.current_thread().name == "rss-sampler" and not release.is_set():
            started.set()
            release.wait(5)
            return 1000.0  # the previous segment's peak
        return 10.0

    monkeypatch.setattr(core, "tree_rss_mb", fake_tree_rss_mb)
    with core.RssSampler(interval_s=0.01) as rss:
        assert started.wait(5)
        rss.reset()
        release.set()
        time.sleep(0.2)
        assert rss.peak_mb == 10.0


def test_parse_metric_forms():
    assert core.parse_metric("total (min, med, max (stageId: taskId))\n5.3 s (1.3 s, 1.4 s)") == 5.3
    assert core.parse_metric("12 ms") == pytest.approx(0.012)
    assert core.parse_metric("8.5 KiB") == 8.5 * 1024
    assert core.parse_metric("1,000") == 1000.0


def test_task_time_counter_above_slots_times_wall_is_dropped():
    dropped = {}
    assert core.checked_task_time("a", 3.0, 4, 1.0, dropped) == 3.0
    assert core.checked_task_time("b", 12.0, 4, 1.0, dropped) is None
    assert list(dropped) == ["b"]


# ---------------------------------------------------------------------------
# BENCHMARK.json and metric names
# ---------------------------------------------------------------------------


def test_benchmark_json_format():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in BENCH["workloads"])
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in BENCH[k]]
    assert len(names) == len(set(names))
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in BENCH["end_to_end"])
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"])
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])


def test_every_end_to_end_metric_is_emitted():
    ctx = run.Ctx(None, 1, 1.0, "", core.Tracer(False), None, 4)
    ctx.walls, ctx.rates, ctx.peaks = [1.0, 2.0], [3.0], [4.0]
    ctx.latencies_ms = [float(i) for i in range(1, 30)]
    emitted = run.end_to_end(ctx, 0.5)
    assert list(emitted) == [m["name"] for m in BENCH["end_to_end"]]
    assert all(re.fullmatch(r"[A-Za-z0-9_.-]+", k) for k in emitted)
    assert {k: u for k, (_v, u) in emitted.items()} == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}


def test_every_per_layer_metric_is_set_by_some_workload():
    """Each declared per-layer name must be written by the benchmark's
    code (a name nobody sets would always read 0)."""
    source = ""
    for f in ("run.py", "core.py", "wl_etl.py", "wl_stream.py", "wl_curate.py"):
        with open(os.path.join(HERE, f)) as fh:
            source += fh.read()
    phases = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
              "commitOffsets", "triggerExecution")
    set_names = set(re.findall(r'"([A-Za-z0-9_.-]+)"', source))
    set_names |= {f"spark.trigger.{p}_ms" for p in phases if "spark.trigger.{phase}_ms" in source}
    missing = [m["name"] for m in BENCH["per_layer"] if m["name"] not in set_names]
    assert not missing
