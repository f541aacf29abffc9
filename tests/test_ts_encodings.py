"""Events ts-column robustness: the driver's testdata generator has
stored ts as TIMESTAMP(NANOS) (read as long under nanosAsLong), as
TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ), and
could store UTC-adjusted TIMESTAMP next. Round 2 lost its entire bench
to one of these switches; every encoding is pinned here, plus the ops
that consume ts (sessionize, asof) over each timestamp flavor."""

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from registry.queries import _normalize_event_ts
from imcs_spark.series import sessionize

# Three events, gaps 30 min then 2 h: sessions (0, 0, 1) at gap=3600 s.
_BASE = datetime.datetime(2024, 3, 1, 12, 0, 0)
_TIMES = [
    _BASE,
    _BASE + datetime.timedelta(minutes=30),
    _BASE + datetime.timedelta(hours=2, minutes=30),
]
_MICROS = [int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000) for t in _TIMES]


def _write(tmp_path, arrow_type, values):
    path = str(tmp_path / "events.parquet")
    table = pa.table(
        {
            "ts": pa.array(values, type=arrow_type),
            "user_id": pa.array([1, 1, 1], type=pa.int64()),
        }
    )
    pq.write_table(table, path)
    return path


def _read_normalized(spark, path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _normalize_event_ts(spark.read.parquet(path))


@pytest.mark.parametrize(
    "arrow_type,values",
    [
        (pa.timestamp("ns"), [m * 1000 for m in _MICROS]),
        (pa.timestamp("us"), _MICROS),  # NTZ under inferTimestampNTZ
        (pa.timestamp("us", tz="UTC"), _MICROS),  # instant TIMESTAMP
    ],
    ids=["nanos_as_long", "micros_ntz", "micros_utc"],
)
def test_normalize_ts_encodings(spark, tmp_path, arrow_type, values):
    df = _read_normalized(spark, _write(tmp_path, arrow_type, values))
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    got = [r[0] for r in df.select(F.unix_micros("ts")).orderBy("ts").collect()]
    assert got == _MICROS


@pytest.mark.parametrize(
    "arrow_type,values",
    [
        (pa.timestamp("us"), _MICROS),
        (pa.timestamp("us", tz="UTC"), _MICROS),
    ],
    ids=["micros_ntz", "micros_utc"],
)
def test_sessionize_on_timestamp_types(spark, tmp_path, arrow_type, values):
    # sessionize must accept raw (un-normalized) timestamp columns too —
    # round 2's bench died on cast(TIMESTAMP_NTZ as double).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(_write(tmp_path, arrow_type, values))
    out = sessionize(df, "ts", 3600.0, ["user_id"])
    got = [r["session_id"] for r in out.orderBy("ts").collect()]
    assert got == [0, 0, 1]


def test_sessionize_numeric_ts(spark):
    df = spark.createDataFrame(
        [(1, 0.0), (1, 10.0), (1, 100.0), (2, 5.0)], "uid long, t double"
    )
    out = sessionize(df, "t", 50.0, ["uid"])
    got = {(r["uid"], r["t"]): r["session_id"] for r in out.collect()}
    assert got == {(1, 0.0): 0, (1, 10.0): 0, (1, 100.0): 1, (2, 5.0): 0}


def test_normalize_rejects_non_nanos_int64(spark, tmp_path):
    # A plain INT64-micros generation must fail loudly, not be silently
    # divided by 1000 (which would shift every timestamp 1000x).
    path = _write(tmp_path, pa.int64(), _MICROS)
    with pytest.raises(ValueError, match="nanosecond epoch range"):
        _read_normalized(spark, path)
