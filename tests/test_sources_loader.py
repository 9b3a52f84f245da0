"""Loader robustness: ``events.ts`` canonicalization across encodings.

Round 2 regression: the testdata regenerated from INT64 TIMESTAMP(NANOS) to
parquet TIMESTAMP_MICROS and a loader that assumed one encoding took down
every events query. ``load_table`` now normalizes by the *loaded* dtype —
INT64 epochs resolve their unit by magnitude (seconds / millis / micros /
nanos are four orders apart for any modern epoch), parquet timestamps pass
through (NTZ cast to TIMESTAMP). This test pins every branch.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from youtube_api_batch_process_with_analytics_spark.sources import footer_rows, load_table

# One canonical instant: 2024-03-07 08:30:00 UTC.
_DT = datetime.datetime(2024, 3, 7, 8, 30, 0)
_EPOCH_S = int(_DT.replace(tzinfo=datetime.timezone.utc).timestamp())


def _write_events(tmp_path, ts_array: pa.Array, subdir: str) -> str:
    d = os.path.join(str(tmp_path), subdir)
    os.makedirs(d, exist_ok=True)
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["page"], pa.string()),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(['{"k": 3}'], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(d, "events.parquet"))
    return d


@pytest.mark.parametrize(
    "label,ts_array",
    [
        ("int64_seconds", pa.array([_EPOCH_S], pa.int64())),
        ("int64_millis", pa.array([_EPOCH_S * 1_000], pa.int64())),
        ("int64_micros", pa.array([_EPOCH_S * 1_000_000], pa.int64())),
        ("int64_nanos", pa.array([_EPOCH_S * 1_000_000_000], pa.int64())),
        # True parquet TIMESTAMP(NANOS): Spark reads it as bigint under the
        # nanosAsLong legacy conf, then the magnitude cascade applies.
        ("timestamp_nanos", pa.array([_DT], pa.timestamp("ns"))),
        ("timestamp_micros_ntz", pa.array([_DT], pa.timestamp("us"))),
        ("timestamp_millis_ntz", pa.array([_DT], pa.timestamp("ms"))),
        (
            "timestamp_micros_utc",
            pa.array(
                [_DT.replace(tzinfo=datetime.timezone.utc)],
                pa.timestamp("us", tz="UTC"),
            ),
        ),
    ],
)
def test_events_ts_canonicalizes(spark, tmp_path, label, ts_array):
    sf_dir = _write_events(tmp_path, ts_array, label)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp", label
    [row] = df.select("ts").collect()
    assert row.ts == _DT, f"{label}: {row.ts!r} != {_DT!r}"


def test_events_load_writes_no_session_conf(spark, tmp_path, monkeypatch):
    """Queries run concurrently on one shared session, so a cold events
    load must not write session conf: the nanos-as-long read setting
    comes from ``get_spark``'s builder, and the loaded parquet
    TIMESTAMP(NANOS) still canonicalizes."""
    from pyspark.sql.conf import RuntimeConfig

    sf_dir = _write_events(tmp_path, pa.array([_DT], pa.timestamp("ns")), "cold")
    writes = []
    real_set = RuntimeConfig.set
    monkeypatch.setattr(
        RuntimeConfig,
        "set",
        lambda conf, key, value: writes.append(key) or real_set(conf, key, value),
    )
    before = spark.conf.getAll
    [row] = load_table(spark, sf_dir, "events").select("ts").collect()
    assert spark.conf.getAll == before
    assert writes == []
    assert row.ts == _DT


def test_footer_rows_reads_files_and_directories(tmp_path):
    """The job-free row count the Lloyd fits route on: one parquet file,
    a directory of part files (hidden and ``_`` files skipped, as Spark
    skips them), and None for a table that is not there."""
    t = pa.table({"vec_id": pa.array(range(5), pa.int64())})
    pq.write_table(t, tmp_path / "embeddings.parquet")
    assert footer_rows(str(tmp_path), "embeddings") == 5
    parts = tmp_path / "dir" / "embeddings.parquet"
    parts.mkdir(parents=True)
    for i in range(3):
        pq.write_table(t, parts / f"part_{i}.parquet")
    (parts / "_SUCCESS").write_bytes(b"")
    (parts / ".part_0.parquet.crc").write_bytes(b"x")
    assert footer_rows(str(tmp_path / "dir"), "embeddings") == 15
    assert footer_rows(str(tmp_path), "documents") is None
