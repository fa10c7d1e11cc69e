"""events.ts physical-encoding portability (the round-4 incident guard).

The testdata generator has shipped events.ts as TIMESTAMP(NANOS) (rounds
1-3) and TIMESTAMP(MICROS) (round 4). load_table must read BOTH into the
same TIMESTAMP_NTZ wall-clock values — a silent unit mix-up compresses the
time axis and only breaks time-valued queries while order-based ones stay
green (exactly how it bit in round 4)."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from financial_big_data_spark.sources.tables import _events_ts_unit, load_table


def _write_events(path: str, unit: str) -> list[datetime.datetime]:
    ts = [
        datetime.datetime(2024, 1, 1, 0, 0, 7, 123456),
        datetime.datetime(2024, 3, 5, 17, 21, 7, 1),
        datetime.datetime(2024, 12, 31, 23, 59, 59, 999999),
    ]
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp(unit)),
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["click", "view", "click"]),
            "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    # version 2.6 preserves nanosecond logical timestamps on disk
    pq.write_table(table, path, version="2.6")
    return ts


def test_load_table_reads_nanos_and_micros_identically(spark, tmp_path):
    expected = None
    got = {}
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        expected = _write_events(str(d / "events.parquet"), unit)
        # verify the fixture really is the intended physical type
        lt = str(pq.ParquetFile(str(d / "events.parquet")).schema.column(1).logical_type)
        assert ("nano" in lt) == (unit == "ns"), lt
        df = load_table(spark, str(d), "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
        got[unit] = {r.event_id: r.ts for r in df.select("event_id", "ts").collect()}
    assert got["ns"] == got["us"]
    for i, ts in enumerate(expected, start=1):
        assert got["us"][i] == ts, (i, got["us"][i], ts)


def test_events_ts_unit_falls_back_only_on_expected_errors(tmp_path, monkeypatch):
    """A corrupt footer, a missing ts column or a non-timestamp ts reads as
    micros; any other error propagates instead of silently picking a unit."""
    bad = tmp_path / "bad.parquet"
    bad.write_text("not parquet")
    no_ts = tmp_path / "no_ts.parquet"
    pq.write_table(pa.table({"a": [1]}), no_ts)
    long_ts = tmp_path / "long_ts.parquet"
    pq.write_table(pa.table({"ts": [1]}), long_ts)
    nanos = tmp_path / "events.parquet"
    _write_events(str(nanos), "ns")
    assert [_events_ts_unit(str(p)) for p in (bad, no_ts, long_ts, nanos)] == [
        "us", "us", "us", "ns"
    ]

    def unexpected(*args, **kwargs):
        raise RuntimeError("unexpected")

    monkeypatch.setattr(pq, "ParquetFile", unexpected)
    with pytest.raises(RuntimeError, match="unexpected"):
        _events_ts_unit(str(nanos))
