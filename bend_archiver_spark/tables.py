"""Test-data table loaders.

Two temporal-fidelity normalizations happen here (SURVEY §1.2 maps the
reference's temporal-as-string model to ``TimestampType`` natively):

1. Parquet ``TIMESTAMP(NANOS)`` (round-1 driver data): Spark rejects it
   (`PARQUET_TYPE_ILLEGAL`) while DuckDB truncates to micros. We read
   nanos as long (``spark.sql.legacy.parquet.nanosAsLong``) and convert
   to ``TimestampType`` at micro precision.
2. Naive (isAdjustedToUTC=false) micro-precision timestamps (round-3+
   driver data): Spark 4.x infers ``TIMESTAMP_NTZ`` by default, which
   breaks watermarks (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and
   long-casts. We disable ``inferTimestampNTZ`` at read time so they
   load as ``TimestampType`` in the UTC session — exactly the DuckDB
   oracle's view of the same file — and belt-and-braces cast any NTZ
   column that still slips through (e.g. a caller-supplied session with
   the conf pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _nano_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), read from the footer."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
    except Exception:
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TimestampType (UTC session)."""
    ntz_cols = [f.name for f in df.schema.fields
                if f.dataType.typeName() == "timestamp_ntz"]
    if not ntz_cols:
        return df
    return df.withColumns(
        {c: F.col(c).cast("timestamp") for c in ntz_cols}
    )


def load_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet, normalizing TIMESTAMP(NANOS) columns (which Spark
    otherwise rejects with PARQUET_TYPE_ILLEGAL) to micro-precision
    timestamps — the same truncation DuckDB applies — and naive micro
    timestamps to TimestampType rather than TIMESTAMP_NTZ.

    Runtime conf (not builder conf) because callers — notably the
    correctness driver — hand us their own SparkSession. The conf is
    deliberately left set (not restored): schema inference happens at
    DataFrame creation but type conversion consults the conf again at
    scan time, and flipping it between the two would corrupt the read.
    Callers that want NTZ elsewhere re-set it per-read; every column
    this loader returns is additionally normalized by
    :func:`_normalize_ntz`, which is conf-independent."""
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    nano_cols = _nano_ts_columns(path)
    if not nano_cols:
        return _normalize_ntz(spark.read.parquet(path))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for c in nano_cols:
        # Arrow also reports Spark-written INT96 timestamps as ns, but
        # Spark reads those as TimestampType directly — only columns
        # that actually surfaced as nanosAsLong longs need converting.
        if dtypes.get(c) != "bigint":
            continue
        # integer division: `/` would go through double and lose precision
        # (nanos-since-epoch ~1.7e18 > 2^53)
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return _normalize_ntz(df)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table, normalizing nano-timestamps."""
    return load_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")

