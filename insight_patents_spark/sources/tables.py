"""Schema-checked loaders for the ten driver test tables (FIXTURES.md).

One loader owns every read-side quirk so operators never touch paths:

- ``events.ts`` has shipped as either TIMESTAMP(MICROS) (reads natively
  as TIMESTAMP_NTZ) or TIMESTAMP(NANOS) (unreadable natively by Spark
  4.1.2; with ``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as
  bigint nanos). We branch on the *observed* dtype: bigint nanos are
  truncated (integer div) to micros and rebased onto the NTZ epoch —
  timezone-independent and equal to DuckDB's truncating read of the same
  column. Never assume the physical type; the driver regenerates testdata
  between rounds and has changed it once already (round 1 -> 2).
- All other timestamp columns already read as TIMESTAMP_NTZ.

Pinned read schemas: a schema-less ``spark.read.parquet`` infers the
schema from the file footers with a one-task Spark job on EVERY call.
Every read here goes through ``read_raw``, which infers a table's schema
once and records the ``StructType`` under the key
``(applicationId, sf_dir, name, src_stamp(sf_dir, name))``; later reads
pass it to ``spark.read.schema(...)`` and start no job. The key is
session-scoped (a new SparkContext re-infers) and a regenerated source
file (new mtime or size) re-infers, the same invalidation rule as the
``src_stamp``-keyed scratch caches. Only the schema is cached, never a
DataFrame: each read is a fresh relation with fresh attribute ids, so
self-joins and ``df["col"]`` references behave as with a plain read.

At 100 TB these loaders are the single place to attach bucketing /
partition-pruning metadata; operators stay declarative against them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
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

# Small dimension tables that should always be broadcast when joined
# against a fact table (row counts: region 5, nation 25, supplier 10 @sf1-ish;
# they do not scale with sf).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})

_NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"

# (applicationId, sf_dir, name, src_stamp) -> schema of the first read
_SCHEMAS: dict[tuple[str, str, str, str], StructType] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table from ``sf_dir`` by name."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return read_raw(spark, sf_dir, name)


def read_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table as stored, read under its pinned schema (module doc):
    only the first read per (session, source version) infers it. events
    is read with nanosAsLong set, so NANOS timestamps arrive as bigint."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    key = (spark.sparkContext.applicationId, sf_dir, name, src_stamp(sf_dir, name))
    pinned = _SCHEMAS.get(key)
    if pinned is not None:
        return spark.read.schema(pinned).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_raw(spark, sf_dir, "events")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # nanos-as-long read: truncate (integer div) to micros and rebase
        # onto the NTZ epoch -> wall-clock identical to DuckDB's read.
        df = df.withColumn(
            "ts", F.expr(f"timestampadd(MICROSECOND, ts div 1000, {_NTZ_EPOCH})")
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def src_stamp(sf_dir: str, name: str) -> str:
    """Version stamp of a source table for marker-gated scratch caches.

    The round driver REGENERATES the testdata between rounds (observed:
    events.ts changed physical type round 1 -> 2), so any derived copy
    cached under a path keyed only by sf_dir silently goes stale. Keying
    the cache dir by (mtime, size) of the source parquet invalidates it
    exactly when the source changes."""
    import os

    st = os.stat(f"{sf_dir}/{name}.parquet")
    return f"{int(st.st_mtime)}_{st.st_size}"
