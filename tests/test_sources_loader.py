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

from tests.test_hostile_corpus import hostile_dir  # noqa: F401  (fixture)
from youtube_api_batch_process_with_analytics_spark.sources import (
    TABLES,
    footer_rows,
    footer_schema,
    load_table,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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


def _assert_footer_schemas(spark, sf_dir, names=TABLES):
    checked = 0
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        want = spark.read.parquet(path).schema
        assert footer_schema(spark, path) == want, (path, want)
        checked += 1
    assert checked, sf_dir


@pytest.mark.parametrize(
    "tier",
    # the fixture tiers sit side by side; testdata_sf1 (tools/make_sf1.py)
    # holds multi-file table directories
    ["sf0.001", "sf0.01", "sf0.1", os.path.join(_REPO, "testdata_sf1")],
)
def test_footer_schema_equals_spark_inference(spark, sf_dir, tier):
    """The driver-side footer schema ``load_table`` hands to
    ``spark.read.schema`` is exactly the schema Spark infers with a job,
    on every table of every fixture tier."""
    tier = os.path.join(os.path.dirname(sf_dir), tier)
    if not os.path.isdir(tier):
        pytest.skip(f"{tier} not generated")
    _assert_footer_schemas(spark, tier)


def test_footer_schema_on_perfbench_and_hostile_corpora(spark, tmp_path, hostile_dir):
    """The same equality on the benchmark's generated tables and on the
    hostile corpus (DuckDB-written, NULL-laden rows)."""
    import sys

    sys.path.insert(0, os.path.join(_REPO, "perfbench"))
    try:
        import fixtures
    finally:
        sys.path.pop(0)
    fixtures.write(str(tmp_path / "bench"), 7, 0.001)
    _assert_footer_schemas(spark, str(tmp_path / "bench"))
    _assert_footer_schemas(spark, hostile_dir)


@pytest.mark.parametrize(
    "label,ts_array,int96",
    [
        # INT64 TIMESTAMP(NANOS): Spark reads it as a long
        ("nanos", pa.array([_DT], pa.timestamp("ns")), False),
        # INT96: Arrow reads timestamp[ns], Spark a TIMESTAMP
        ("int96", pa.array([_DT], pa.timestamp("ns")), True),
    ],
)
def test_footer_schema_events_timestamp_encodings(spark, tmp_path, label, ts_array, int96):
    """``events.ts`` encodings whose Arrow type and Spark type disagree:
    the mapping goes by parquet physical and logical type, and the loaded
    column still canonicalizes."""
    d = _write_events(tmp_path, ts_array, label)
    path = os.path.join(d, "events.parquet")
    if int96:
        table = pq.read_table(path)
        pq.write_table(table, path, use_deprecated_int96_timestamps=True)
        assert pq.ParquetFile(path).schema.column(1).physical_type == "INT96"
    _assert_footer_schemas(spark, d, ["events"])
    [row] = load_table(spark, d, "events").select("ts").collect()
    assert row.ts == _DT


def test_footer_schema_maps_every_leaf_kind(spark, tmp_path):
    """Every parquet leaf and nesting kind the mapping covers — signed and
    unsigned ints, dates, decimals, binary, timestamps by unit and UTC
    flag, structs, lists and maps — plus a Spark-written directory whose
    footers carry Spark's own schema."""
    import decimal

    table = pa.table(
        {
            "i8": pa.array([1], pa.int8()),
            "i16": pa.array([1], pa.int16()),
            "u8": pa.array([1], pa.uint8()),
            "u16": pa.array([1], pa.uint16()),
            "u32": pa.array([1], pa.uint32()),
            "u64": pa.array([1], pa.uint64()),
            "flag": pa.array([True]),
            "f32": pa.array([1.5], pa.float32()),
            "day": pa.array([datetime.date(2024, 3, 7)]),
            "dec": pa.array([decimal.Decimal("1.25")], pa.decimal128(9, 2)),
            "wide_dec": pa.array([decimal.Decimal("1.25")], pa.decimal128(30, 2)),
            "blob": pa.array([b"x"]),
            "ms_ntz": pa.array([_DT], pa.timestamp("ms")),
            "us_utc": pa.array([_DT], pa.timestamp("us", tz="UTC")),
            "rec": pa.array([{"a": 1, "b": [1.0, None]}]),
            "tags": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int32())),
            "nested": pa.array([[[1, 2]]], pa.list_(pa.list_(pa.int64()))),
        }
    )
    pq.write_table(table, tmp_path / "kinds.parquet")
    _assert_footer_schemas(spark, str(tmp_path), ["kinds"])
    spark.read.parquet(str(tmp_path / "kinds.parquet")).repartition(3).write.parquet(
        str(tmp_path / "spark" / "kinds.parquet")
    )
    _assert_footer_schemas(spark, str(tmp_path / "spark"), ["kinds"])


def test_load_table_schema_launches_no_job(spark, sf_dir, tmp_path, jobs_in_group):
    """A new table path costs no schema-inference job: the loader reads
    the footer on the driver."""
    import shutil

    for name in ("documents", "events", "embeddings"):
        shutil.copy(f"{sf_dir}/{name}.parquet", tmp_path / f"{name}.parquet")
        schema, jobs = jobs_in_group(
            lambda: load_table(spark, str(tmp_path), name).schema
        )
        assert jobs == [], name
        assert schema.fieldNames()
