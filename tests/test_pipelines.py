"""End-to-end pipeline test (SURVEY.md §5.3): synthetic tar-of-XML →
unpack → flatten → partitioned CSV re-read → golden compare, plus the
produce stage against the recording transport."""

from __future__ import annotations

import io
import os
import sys
import tarfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kinesis_producer_spark.pipelines import (  # noqa: E402
    flatten_day,
    produce_day,
    unpack_day,
    validate_arg,
)

NS = "http://uptake.com/bhp/1/sensors"


def _reading(name: str, value: str, uom: str | None = None) -> str:
    u = f"<NS1:attributeUoM>{uom}</NS1:attributeUoM>" if uom is not None else ""
    return (f"<NS1:reading><NS1:attributeName>{name}</NS1:attributeName>"
            f"<NS1:attributeValue>{value}</NS1:attributeValue>{u}</NS1:reading>")


def _message(i: int, ts: str, readings: list[str]) -> str:
    return (
        f'<NS1:message xmlns:NS1="{NS}"><NS1:messagePayload>'
        f"<NS1:vehicleIdentifier>veh_{i}</NS1:vehicleIdentifier>"
        f"<NS1:typeOfReading>ACOUSTIC</NS1:typeOfReading>"
        f"<NS1:readingTimestampUTC>{ts}</NS1:readingTimestampUTC>"
        f"<NS1:readingCollection>{''.join(readings)}</NS1:readingCollection>"
        f"</NS1:messagePayload></NS1:message>"
    )


def _signal_xml(i: int, ts: str, site: str, rms: str) -> bytes:
    return _message(i, ts, [_reading("SiteName", site), _reading("RMSTotalDB", rms, "db")]).encode()


@pytest.fixture()
def lake(tmp_path):
    """unprocessed-raw/ACOUSTIC/year=2022/month=03/day=07/ with 2 tars
    of 3 XML files each."""
    day_dir = tmp_path / "unprocessed-raw" / "ACOUSTIC" / "year=2022" / "month=03" / "day=07"
    day_dir.mkdir(parents=True)
    n = 0
    for a in range(2):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for _ in range(3):
                data = _signal_xml(
                    n, f"2022-03-07T0{n}:00:00", f"site_{n % 2}", f"{100 + n}.5"
                )
                info = tarfile.TarInfo(name=f"reading_{n}.xml")
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
                n += 1
        (day_dir / f"archive_{a}.tar").write_bytes(buf.getvalue())
    return tmp_path


def test_unpack_flatten_produce_end_to_end(spark, lake):
    src = str(lake / "unprocessed-raw")
    compacted = str(lake / "unpacked-compacted-raw")
    flattened = str(lake / "flattened-raw")

    unpack_day(spark, src, compacted, "ACOUSTIC", "2022", "03", "07")
    recs = spark.read.json(f"{compacted}/ACOUSTIC/year=2022/month=03/day=07")
    assert recs.count() == 6
    assert set(recs.columns) >= {"payload", "tenant_id", "partition_id"}
    assert recs.select("tenant_id").distinct().collect()[0][0] == "bhp"

    flatten_day(spark, compacted, flattened, "ACOUSTIC", "2022", "03", "07")
    flat = spark.read.option("header", True).csv(
        f"{flattened}/ACOUSTIC/year=2022/month=03/day=07"
    )
    assert flat.count() == 6
    rows = {r["vehicleIdentifier"]: r for r in flat.collect()}
    for i in range(6):
        assert rows[f"veh_{i}"]["RMSTotalDB"] == f"{100 + i}.5"
        assert rows[f"veh_{i}"]["RMSTotalDB_UoM"] == "db"
        assert rows[f"veh_{i}"]["SiteName"] == f"site_{i % 2}"
        assert rows[f"veh_{i}"]["typeOfReading"] == "ACOUSTIC"

    from kinesis_producer_spark.streaming.kinesis_sink import KinesisSink, RecordingTransport

    transports: list[RecordingTransport] = []

    def factory():
        t = RecordingTransport(n_shards=2)
        transports.append(t)
        return t

    sink = KinesisSink(
        stream_name="e2e-stream", transport_factory=factory, max_retries=3, backoff_s=0.0
    )
    acks = produce_day(spark, compacted, "ACOUSTIC", sink, year="2022", month="03", day="07")
    got = acks.collect()
    assert len(got) == 6
    assert all(r["status"] == "ok" for r in got)
    assert all(r["partition_key"] == "ACOUSTIC" for r in got)


def test_validate_arg_rejects_unknown_domain():
    with pytest.raises(ValueError, match="reading_type"):
        validate_arg("SONAR", ["ACOUSTIC"], "reading_type")


def test_unpack_rejects_bad_type(spark, tmp_path):
    with pytest.raises(ValueError):
        unpack_day(spark, str(tmp_path), str(tmp_path), "NOT_A_TYPE", "2022", "01", "01")


# ---------------------------------------------------------------------------
# flatten_day: output equivalence, FAILFAST and executions per call
# ---------------------------------------------------------------------------

COMPONENT_NS = "http://www.uptake.com/bhp/1/vehicleComponent"
SLICE = ("2022", "03", "07")
SLICE_DIR = "year=2022/month=03/day=07"


def _ts(i: int) -> str:
    return f"2022-03-07T00:00:{i:02d}"


def _signal_payloads() -> list[str]:
    out = [
        # duplicate attribute name: the last one wins
        _message(0, _ts(0), [_reading("SiteName", "first"), _reading("RMSTotalDB", "1.5", "db"),
                             _reading("SiteName", "last")]),
        # an empty readingCollection
        _message(1, _ts(1), []),
    ]
    # the UoM on only some records
    out += [_message(i, _ts(i), [_reading("RMSTotalDB", f"{i}.5", "db" if i % 2 else None),
                                 _reading(f"Extra{i % 3}", str(i))]) for i in range(2, 12)]
    return out


def _component(code: str, levels: int, attrs: str) -> str:
    sub = (f"<NS1:subcomponentCollection>{_component(code + '_s', levels - 1, attrs)}"
           "</NS1:subcomponentCollection>") if levels > 1 else ""
    return (f"<NS1:component><NS1:componentCode>{code}</NS1:componentCode>"
            f"<NS1:componentName>name_{levels}</NS1:componentName>"
            f"<NS1:componentAttributeCollection>{attrs.format(level=levels)}"
            f"</NS1:componentAttributeCollection>{sub}</NS1:component>")


def _component_payloads() -> list[str]:
    attrs = ("<NS1:attribute><NS1:attributeName>wear_{level}</NS1:attributeName>"
             "<NS1:attributeValue>{level}</NS1:attributeValue></NS1:attribute>"
             "<NS1:attribute><NS1:attributeName>flag</NS1:attributeName></NS1:attribute>")
    return [
        f'<NS1:vehicleComponent xmlns:NS1="{COMPONENT_NS}">'
        f"<NS1:vehicleIdentifier>veh_{i}</NS1:vehicleIdentifier>"
        + (f"<NS1:sourceSystem>sys_{i}</NS1:sourceSystem>" if i % 2 else "")
        + f"<NS1:componentCollection>{_component(f'c{i}', 4 - i % 2, attrs)}</NS1:componentCollection>"
        "</NS1:vehicleComponent>"
        for i in range(4)
    ]


def _compacted(root, rtype: str, payloads: list[str]) -> str:
    """Write one compacted JSON-lines day slice; return the compacted root."""
    import json

    d = root / "compacted" / rtype / SLICE_DIR
    d.mkdir(parents=True, exist_ok=True)
    lines = [json.dumps({"payload": p, "tenant_id": "bhp", "partition_id": rtype}) for p in payloads]
    (d / "part-0.json").write_text("\n".join(lines) + "\n")
    return str(root / "compacted")


def _csv_text(path: str) -> tuple[set[str], list[str]]:
    """(distinct header lines, sorted data lines) of a CSV directory."""
    headers, rows = set(), []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name)) as fh:
                lines = fh.read().splitlines()
            headers.update(lines[:1])
            rows += lines[1:]
    return headers, sorted(rows)


def _old_flatten_day(spark, src: str, dst: str, rtype: str) -> None:
    """The composition flatten_day replaced: dynamic pivot plus an
    envelope-key select, or the tree flatten, over the lazy parse."""
    from kinesis_producer_spark.operators.eav_pivot import pivot_dynamic
    from kinesis_producer_spark.operators.flatten import flatten_components
    from kinesis_producer_spark.sinks import write_hive_partitioned_csv
    from kinesis_producer_spark.sources.xml import parse_component_docs, parse_signal_messages

    raw = spark.read.json(src, schema="payload string, tenant_id string, partition_id string")
    if rtype == "ACOUSTIC":
        parsed = parse_signal_messages(raw, "payload", mode="FAILFAST")
        wide = pivot_dynamic(parsed)
        envelope_keys = sorted(
            r[0] for r in parsed.select(F.explode(F.map_keys("envelope")).alias("k")).distinct().collect()
        )
        flat = wide.select(
            *[F.col("envelope").getItem(k).alias(k) for k in envelope_keys],
            *[c for c in wide.columns
              if c not in raw.columns and c not in ("envelope", "readings", "_corrupt_record")],
        )
    else:
        flat = flatten_components(parse_component_docs(raw, "payload", mode="FAILFAST"))
    write_hive_partitioned_csv(flat, dst, quote_all=True)


@pytest.mark.parametrize(
    "rtype,payloads", [("ACOUSTIC", _signal_payloads), ("vehicleComponent", _component_payloads)]
)
def test_flatten_day_csv_equals_old_composition(spark, tmp_path, rtype, payloads):
    src = _compacted(tmp_path, rtype, payloads())
    flatten_day(spark, src, str(tmp_path / "new"), rtype, *SLICE)
    _old_flatten_day(spark, f"{src}/{rtype}/{SLICE_DIR}", str(tmp_path / "old"), rtype)

    new = _csv_text(str(tmp_path / "new" / rtype / SLICE_DIR))
    assert new == _csv_text(str(tmp_path / "old"))
    (header,), rows = new
    if rtype == "ACOUSTIC":
        assert len(rows) == 12
        assert header.startswith('"readingTimestampUTC","typeOfReading","vehicleIdentifier",')
        assert '"RMSTotalDB","RMSTotalDB_UoM"' in header and '"SiteName"' in header
        assert any('"veh_0"' in r and '"last"' in r and '"first"' not in r for r in rows)
    else:
        assert len(rows) == 4 + 3 + 4 + 3  # one row per component, trees of depth 4 and 3
        assert '"wear_4"' in header and '"wear_1"' in header and '"parent_code"' in header


@pytest.mark.parametrize(
    "rtype,payloads", [("ACOUSTIC", _signal_payloads), ("vehicleComponent", _component_payloads)]
)
def test_flatten_day_failfast_raises_before_touching_the_output(spark, tmp_path, rtype, payloads):
    good = payloads()
    src = _compacted(tmp_path, rtype, good)
    dst = str(tmp_path / "flat")
    flatten_day(spark, src, dst, rtype, *SLICE)
    before = _csv_text(f"{dst}/{rtype}/{SLICE_DIR}")

    _compacted(tmp_path, rtype, [*good[:2], good[2][:-20], *good[3:]])
    with pytest.raises(Exception, match="Malformed XML"):
        flatten_day(spark, src, dst, rtype, *SLICE)
    assert _csv_text(f"{dst}/{rtype}/{SLICE_DIR}") == before


def _sql_executions(spark) -> int:
    """Executions in the SQL status store (readable with the UI off)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


@pytest.mark.parametrize(
    "rtype,payloads", [("ACOUSTIC", _signal_payloads), ("vehicleComponent", _component_payloads)]
)
def test_flatten_day_fires_one_discovery_and_one_write(spark, tmp_path, rtype, payloads):
    src = _compacted(tmp_path, rtype, payloads())
    before = _sql_executions(spark)
    flatten_day(spark, src, str(tmp_path / "flat"), rtype, *SLICE)
    assert _sql_executions(spark) - before <= 2


def test_produce_day_failfast_raises_on_malformed_record(spark, tmp_path):
    from kinesis_producer_spark.streaming.kinesis_sink import KinesisSink, RecordingTransport

    good = _signal_payloads()
    src = _compacted(tmp_path, "ACOUSTIC", [*good[:3], good[3][:-20], *good[4:]])
    sink = KinesisSink(stream_name="failfast", transport_factory=lambda: RecordingTransport(n_shards=2),
                       max_retries=3, backoff_s=0.0)
    with pytest.raises(Exception, match="Malformed XML"):
        produce_day(spark, src, "ACOUSTIC", sink, year="2022", month="03", day="07")
