"""Parquet sources for the synthetic star schema (TESTDATA.md).

Models the reference's scan operators (SURVEY.md §2.1 S1-S7): where the
reference fetches JSON/XML/SQLite row-at-a-time over the network
(``youtube_api_handler.py:430-513``, ``sqlite_logger.py:121-255``), the
engine reads columnar parquet and lets Catalyst push filters and prune
columns into the scan — check ``df.explain`` for ``PushedFilters`` /
``ReadSchema``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.memo import session_value

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Reads INT64 TIMESTAMP(NANOS) columns as longs (``events.ts``).
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# The schema a Spark writer stores in the footer; Spark reads it back
# verbatim instead of converting the parquet types.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
# spread() and spread_shuffled() leave a scan whose footers hold fewer
# rows than this unfanned. Measured with tools/time_queries.py on 4 cores
# over the 38 queries that reach spread(), fan-out forced on (floor 0) →
# forced off, two runs each; seconds summed per family, warm min of 3
# reps (cold rep 1 in brackets):
#   family (queries)  sf0.01: 500 docs and    sf0.1: 5k docs, 2k
#                     vectors, 15k orders     vectors, 150k orders
#   text (22)         5.08→5.33 (21.7→23.0)   10.3→13.5 (35.9→39.1)
#   embeddings (12)   5.60→6.17 (14.9→18.7)   8.56→10.6 (20.1→23.3)
#   media (3)         0.98→0.72 (1.38→1.22)   1.07→0.59 (1.47→0.97)
#   orders (1)        0.33→0.31 (0.92→0.84)   0.83→1.19 (2.27→1.92)
# Alone on an idle box the fan-out still pays a little at 500 rows, most
# for the embeddings family's interpreted array folds. Run concurrently it
# does not: perfbench refit_cold (two 500-row corpus versions at once)
# took pass_s 2.89-3.58 s with the fan-out and 2.68-2.94 s without, four
# of four alternating pairs. So the floor sits between the 500-row tables
# and the 2k-row embeddings.
SPREAD_MIN_ROWS = 1_000


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table; the handle is a session value per table path.

    The schema is read from the parquet footer on the driver
    (``footer_schema``) and handed to ``spark.read.schema``, so a new
    path costs no schema-inference job; a footer it cannot map falls
    back to Spark's own inference.

    ``events.ts`` has shipped under two physical encodings, so normalize by
    the *loaded* dtype rather than assuming one:

    - INT64 TIMESTAMP(NANOS): Spark rejects it natively; read nanos as long
      (legacy conf) and rebuild TimestampType with exact integer division
      (``div 1000`` — no double roundtrip, nanos exceed 2^53).
    - TIMESTAMP_MICROS (isAdjustedToUTC=0 → TIMESTAMP_NTZ in Spark): pass
      through, casting NTZ → TIMESTAMP so downstream ``window()`` / interval
      arithmetic keeps identical semantics (session tz is UTC in this repo).

    Either way callers see one canonical ``ts: timestamp`` column whose
    micros values match what DuckDB/Python produce for the same data.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    return session_value(spark, path, "scan", lambda: _scan(spark, path, name))


def _scan(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # Harmless when ts is already a parquet timestamp; required when it
        # is INT64 TIMESTAMP(NANOS) (the read would fail without it).
        # ``get_spark`` sets it at build time: queries share the session,
        # so one only writes it into a session built elsewhere.
        if spark.conf.get(NANOS_AS_LONG, "false") != "true":
            spark.conf.set(NANOS_AS_LONG, "true")
    schema = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if name != "events":
        return df
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # Raw INT64 epoch: decide the unit by magnitude per row (all
        # plausible test epochs are ~2020s: seconds ~1.7e9, millis
        # ~1.7e12, micros ~1.7e15, nanos ~1.7e18 — four orders apart,
        # so the thresholds are unambiguous). A pure expression inside
        # codegen; survives the testdata regenerating under yet another
        # encoding without a loader change.
        ts = F.col("ts")
        micros = (
            F.when(ts >= F.lit(10**17), F.expr("ts div 1000"))
            .when(ts >= F.lit(10**14), ts)
            .when(ts >= F.lit(10**11), ts * F.lit(1000))
            .otherwise(ts * F.lit(1_000_000))
        )
        df = df.withColumn("ts", F.timestamp_micros(micros.cast("long")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    # ts_type == "timestamp": already canonical.
    return df


def _data_files(path: str) -> list[str] | None:
    """The parquet files a Spark scan of ``path`` reads, sorted; None for
    a missing path or a directory with subdirectories (a partitioned
    layout, whose partition columns come from the directory names).
    Hidden and ``_``-prefixed names are skipped, as Spark skips them."""
    if os.path.isfile(path):
        return [path]
    try:
        entries = sorted(os.scandir(path), key=lambda e: e.name)
    except OSError:
        return None
    files = []
    for e in entries:
        if e.name.startswith(("_", ".")):
            continue
        if e.is_dir():
            return None
        files.append(e.path)
    return files


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, read from the first
    data file's footer on the driver — no Spark job — or None when this
    mapping does not cover the file (Spark then infers it).

    Part files are assumed to share one schema, as Spark assumes without
    ``mergeSchema``. A footer a Spark writer stamped with its schema is
    read back verbatim, as Spark does. Otherwise each leaf is mapped from
    its parquet physical and logical type, the way Spark's parquet schema
    converter maps it, not from the Arrow type pyarrow would read: an
    INT96 column is a TIMESTAMP to Spark but ``timestamp[ns]`` to Arrow,
    and INT64 TIMESTAMP(NANOS) is a long under the nanos-as-long read
    setting. The nesting (struct, list, map) comes from the Arrow schema,
    whose leaves follow the parquet columns in order. Every field comes
    back nullable, as a file source reports it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = _data_files(path)
    if not files:
        return None
    try:
        pf = pq.ParquetFile(files[0])
    except (OSError, ValueError):  # ArrowInvalid is a ValueError
        return None
    stamped = (pf.metadata.metadata or {}).get(_SPARK_ROW_METADATA)
    if stamped is not None:
        return _nullable(T.StructType.fromJson(json.loads(stamped)))
    conf = spark.conf
    opts = {
        "nanos_as_long": conf.get(NANOS_AS_LONG, "false") == "true",
        "int96_ts": conf.get("spark.sql.parquet.int96AsTimestamp", "true")
        == "true",
        "binary_as_string": conf.get("spark.sql.parquet.binaryAsString", "false")
        == "true",
        "ntz": conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        == "true",
    }
    leaves = iter(pf.schema.column(i) for i in range(pf.metadata.num_columns))

    def convert(t: pa.DataType) -> T.DataType | None:
        if pa.types.is_struct(t):
            fields = [_field(t.field(i).name, convert(t.field(i).type))
                      for i in range(t.num_fields)]
            return None if None in fields else T.StructType(fields)
        if pa.types.is_map(t):
            key, value = convert(t.key_type), convert(t.item_type)
            return None if None in (key, value) else T.MapType(key, value, True)
        if (
            pa.types.is_list(t)
            or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t)
        ):
            elem = convert(t.value_type)
            return None if elem is None else T.ArrayType(elem, True)
        leaf = next(leaves, None)
        return None if leaf is None else _leaf_type(leaf, opts)

    fields = [_field(f.name, convert(f.type)) for f in pf.schema_arrow]
    if None in fields or next(leaves, None) is not None:
        return None
    return T.StructType(fields)


def _field(name: str, dtype: T.DataType | None) -> T.StructField | None:
    return None if dtype is None else T.StructField(name, dtype, True)


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every field, element and map value nullable."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
             for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _leaf_type(col, opts: dict) -> T.DataType | None:
    """Spark's type for one parquet leaf column, or None when unmapped."""
    phys = col.physical_type
    logical = json.loads(col.logical_type.to_json())
    kind = logical.get("Type", "None")
    if kind == "Decimal":
        return T.DecimalType(logical["precision"], logical["scale"])
    if phys == "BOOLEAN" and kind == "None":
        return T.BooleanType()
    if phys == "FLOAT" and kind == "None":
        return T.FloatType()
    if phys == "DOUBLE" and kind == "None":
        return T.DoubleType()
    if phys == "INT32":
        if kind == "None":
            return T.IntegerType()
        if kind == "Date":
            return T.DateType()
        if kind == "Int":
            bits, signed = logical["bitWidth"], logical["isSigned"]
            if signed:
                return {8: T.ByteType(), 16: T.ShortType(), 32: T.IntegerType()}[bits]
            return {8: T.ShortType(), 16: T.IntegerType(), 32: T.LongType()}[bits]
        return None
    if phys == "INT64":
        if kind == "None" or (kind == "Int" and logical["isSigned"]):
            return T.LongType()
        if kind == "Int":  # UINT64
            return T.DecimalType(20, 0)
        if kind == "Timestamp":
            if logical["timeUnit"] == "nanoseconds":
                return T.LongType() if opts["nanos_as_long"] else None
            if logical["isAdjustedToUTC"] or not opts["ntz"]:
                return T.TimestampType()
            return T.TimestampNTZType()
        return None
    if phys == "INT96" and kind == "None":
        return T.TimestampType() if opts["int96_ts"] else T.BinaryType()
    if phys == "BYTE_ARRAY":
        if kind in ("String", "Enum", "JSON"):
            return T.StringType()
        if kind == "None":
            return T.StringType() if opts["binary_as_string"] else T.BinaryType()
        if kind == "BSON":
            return T.BinaryType()
        return None
    if phys == "FIXED_LEN_BYTE_ARRAY" and kind == "None":
        return T.BinaryType()
    return None


def footer_rows(sf_dir: str, name: str) -> int | None:
    """Rows of one table as its parquet footers record them — read on the
    driver, no Spark job — or None when they cannot be read. An upper
    bound on any filtered view of the table."""
    files = _data_files(os.path.join(sf_dir, f"{name}.parquet"))
    return None if files is None else _files_rows(files)


def _files_rows(files: list[str]) -> int | None:
    """Rows the parquet ``files`` hold by their footers, or None when one
    cannot be read."""
    import pyarrow.parquet as pq

    try:
        return sum(pq.read_metadata(f).num_rows for f in files)
    except (OSError, ValueError):  # ArrowInvalid is a ValueError
        return None


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Fan a narrow input across the session's cores — only when needed.

    The small test fixtures arrive as a single parquet split, which would
    serialize expression-heavy map work (hashing, regex, array transforms)
    onto one core. A real cluster scan already arrives as many splits, and
    an unconditional round-robin repartition there would be a full-corpus
    shuffle bought for nothing — so this is a NO-OP whenever the plan
    already yields at least 3/4 of the target partition count and the
    scan's natural splits flow straight into the map work (plan-pinned:
    ``tests/test_scale_plans.py::test_spread_noop_on_multisplit_input``
    asserts no round-robin Exchange appears on a multi-split input). The
    3/4 band keeps a nearly-parallel scan (30 part files against 32 cores)
    from buying a corpus-sized exchange for a few percent more map
    parallelism.

    It is also a NO-OP when the parquet files ``df`` reads hold fewer than
    ``SPREAD_MIN_ROWS`` rows by their footers: such a scan is done before
    a fan-out's extra shuffle stage and job would pay for themselves.

    Both probes run on the driver and launch no job: the footers are
    read with pyarrow, and the partition probe
    (``df.rdd.getNumPartitions()``) runs the physical planner once.
    """
    if not _narrow(df, min_partitions):
        return df
    return df.repartition(_fan_out(df, min_partitions))


def spread_shuffled(
    df: DataFrame, probe: DataFrame, min_partitions: int | None = None
) -> DataFrame:
    """Guarded fan-out for a frame DOWNSTREAM of a shuffle.

    ``spread()``'s partition probe is planning-only for scan-shaped frames,
    but when ``df`` sits behind an Exchange under AQE the probe EXECUTES the
    upstream query stages (AQE must materialize the shuffle to report the
    coalesced count) — doubling the work of the query. So for post-shuffle
    frames the wide/narrow decision is taken from a scan-shaped ``probe``
    frame instead (typically the raw ``load_table`` scan the query reads):
    if the source scan already yields >= the target splits, the run is
    cluster-scale — AQE keeps the shuffle output proportionally wide and a
    round-robin repartition would be a pointless extra exchange, so this is
    a NO-OP. Only a narrow (single-split fixture) scan buys the fan-out,
    where AQE would otherwise coalesce a tiny-but-CPU-heavy frame onto one
    core. Same guards as ``spread`` (the 3/4 band and the row floor).
    """
    if not _narrow(probe, min_partitions):
        return df
    return df.repartition(_fan_out(df, min_partitions))


def _fan_out(df: DataFrame, min_partitions: int | None) -> int:
    return min_partitions or df.sparkSession.sparkContext.defaultParallelism


def _narrow(probe: DataFrame, min_partitions: int | None) -> bool:
    """Whether a fan-out to the target partition count pays for ``probe``."""
    rows = _scan_rows(probe)
    if rows is not None and rows < SPREAD_MIN_ROWS:
        return False
    return 4 * probe.rdd.getNumPartitions() < 3 * _fan_out(probe, min_partitions)


def _scan_rows(df: DataFrame) -> int | None:
    """Rows of the local parquet files ``df`` reads, summed from their
    footers, or None when it reads none (or any it cannot open)."""
    from urllib.parse import unquote, urlparse

    urls = [urlparse(uri) for uri in df.inputFiles()]
    if not urls or any(u.scheme not in ("", "file") for u in urls):
        return None
    return _files_rows([unquote(u.path) for u in urls])
