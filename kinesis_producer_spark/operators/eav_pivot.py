"""EAV→wide pivot (SURVEY.md §2a rows 10-11).

Declared mode mirrors the Lambda transform (reference
acoustic_parser_lambda.py:79-90): a fixed set of reading columns,
null-filled when absent, last write wins on duplicate attribute names,
``<name>_UoM`` companions whenever a UoM accompanies the reading.
Undeclared readings land in an ``extras`` map column — a fixed output
schema (streaming-safe) that still preserves the reference's
"silently added" information.

Dynamic mode mirrors ``SignalFlattener`` (reference
file_flattener.py:119-145): the column set is the union of attribute
names actually present, found with the UoM-carrying names in one
discovery pass (``distinct_keys``), then the declared projection path.

Implementation: ``map_from_entries`` + per-key ``getItem`` — entirely
JVM-side, **zero shuffle** (the readings are already on their row;
contrast with groupBy().pivot() which would shuffle the fact table).
Last-write-wins needs ``spark.sql.mapKeyDedupPolicy=LAST_WIN``, set
here at plan-build time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The Lambda's declared reading schema (reference
# acoustic_parser_lambda.py:15-47): 28 value columns + 3 _UoM
# companions for weight / vertical_peak / speed (:49).
DECLARED_READINGS = [
    "SensorDataQualityDescription",
    "SiteTimeZoneId",
    "SiteName",
    "TrainDirection",
    "VehicleTag",
    "VehicleEndLeading",
    "TrackSide",
    "TrainAxleNumber",
    "VehicleAxleNumber",
    "VehicleSide",
    "RailBAMBearingFaultCode",
    "RailBAMWheelFaultCode",
    "RMSTotalDB",
    "RMSBandDB",
    "LooseFrettingDB",
    "RollerDB",
    "CupDB",
    "ConeDB",
    "NoisyDB",
    "RMSBandWheelflatDB",
    "WheelflatDB",
    "TrainVehicleNumber",
    "WHEEL_TEMPERATURE",
    "BEARING_TEMPERATURE",
    "weight",
    "vertical_peak",
    "speed",
    "BrokenSpringDefect",
]
READINGS_W_UOM = ["weight", "vertical_peak", "speed"]

# Envelope attributes (reference acoustic_parser_lambda.py:6-14).
ENVELOPE_ATTRS = [
    "vehicleIdentifier",
    "componentIdentifier",
    "positionInTrain",
    "typeOfReading",
    "readingTimestampUTC",
    "readingLocation",
    "sourceSystem",
]


def _maps(readings: Column) -> tuple[Column, Column]:
    """(name→value, name→uom) maps from the readings array."""
    vals = F.map_from_entries(
        F.transform(readings, lambda r: F.struct(r["name"].alias("key"), r["value"].alias("value")))
    )
    uoms = F.map_from_entries(
        F.transform(
            F.filter(readings, lambda r: r["uom"].isNotNull()),
            lambda r: F.struct(r["name"].alias("key"), r["uom"].alias("value")),
        )
    )
    return vals, uoms


def pivot_declared(
    df: DataFrame,
    readings_col: str | Column = "readings",
    declared: list[str] | None = None,
    uom_for: list[str] | None = None,
    keep_extras: bool = True,
) -> DataFrame:
    """Fixed-schema EAV pivot: one column per declared reading (+_UoM)."""
    df.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    declared = DECLARED_READINGS if declared is None else declared
    uom_for = READINGS_W_UOM if uom_for is None else uom_for
    readings = F.col(readings_col) if isinstance(readings_col, str) else readings_col
    vals, uoms = _maps(readings)

    cols: list[Column] = []
    for name in declared:
        cols.append(vals.getItem(name).alias(name))
        if name in uom_for:
            cols.append(uoms.getItem(name).alias(f"{name}_UoM"))
    if keep_extras:
        declared_arr = F.array(*[F.lit(n) for n in declared])
        extras = F.map_filter(vals, lambda k, _: ~F.array_contains(declared_arr, k))
        cols.append(extras.alias("extras"))
    return df.select("*", *cols)


def distinct_keys(df: DataFrame, **keys: Column) -> dict[str, list[str]]:
    """Sorted distinct non-null elements of each string-array column in
    ``keys``, in ONE execution: tag each array with its keyword, concat,
    explode, one distinct + collect. Bounded by the key vocabulary, not
    the data size, so the driver action is safe at any scale."""
    empty = F.array().cast("array<string>")
    tagged = F.concat(*[
        F.transform(F.coalesce(arr, empty), lambda k: F.struct(F.lit(tag).alias("tag"), k.alias("key")))
        for tag, arr in keys.items()
    ])
    found = sorted(df.select(F.inline(tagged)).where(F.col("key").isNotNull()).distinct().collect())
    return {tag: [k for t, k in found if t == tag] for tag in keys}


def reading_keys(readings: Column) -> dict[str, Column]:
    """``distinct_keys`` arguments for a dynamic pivot: reading names, names with a UoM."""
    return {
        "names": F.transform(readings, lambda x: x["name"]),
        "uoms": F.transform(F.filter(readings, lambda x: x["uom"].isNotNull()), lambda x: x["name"]),
    }


def pivot_dynamic(
    df: DataFrame,
    readings_col: str | Column = "readings",
    uom_suffix: str = "_UoM",
) -> DataFrame:
    """Accreting-schema EAV pivot: columns = distinct attribute names.

    One discovery execution (``distinct_keys`` over the names and the
    UoM-carrying names — the key domain, not the data), then the
    zero-shuffle getItem path of ``pivot_declared``.

    BATCH ONLY: discovering the attribute vocabulary requires an
    action over the input, which Spark forbids on a stream (a stream's
    key domain is unbounded in time anyway — the schema could change
    every micro-batch). Streams use ``pivot_declared`` with an
    explicit schema (SURVEY §7 hard-part (b)); this guard keeps the
    failure mode a clear error instead of an AnalysisException from
    deep inside the collect.
    """
    if df.isStreaming:
        raise ValueError(
            "pivot_dynamic requires a batch DataFrame: attribute discovery "
            "needs an action, which streaming forbids — use pivot_declared "
            "with an explicit declared schema on streams"
        )
    readings = F.col(readings_col) if isinstance(readings_col, str) else readings_col
    keys = distinct_keys(df, **reading_keys(readings))
    return pivot_declared(df, readings, declared=keys["names"], uom_for=keys["uoms"], keep_extras=False)


def melt(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    name_col: str = "name",
    value_col: str = "value",
) -> DataFrame:
    """Wide→EAV inverse (unpivot via stack) — round-trip partner for tests."""
    pairs = ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in value_cols)
    return df.selectExpr(
        *id_cols, f"stack({len(value_cols)}, {pairs}) AS ({name_col}, {value_col})"
    )
