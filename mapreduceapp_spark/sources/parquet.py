"""Parquet table loading for the driver's star schema.

Replaces the reference's in-memory ``InputVec`` source
(``MapReduceFramework.h:18-20``, consumed at
``MapReduceFramework.cpp:88-95``) with lazy columnar scans.

Scale notes (100 TB posture):
- ``spark.read.parquet`` is lazy; Catalyst pushes predicates and
  prunes columns into the scan (visible as ``PushedFilters`` /
  ``ReadSchema`` in ``.explain``), so a query touching 2 of 16
  columns reads 2 column chunks, not the table.
- No caching by default: at 100 TB the working set never fits, and
  the parquet scan + pushdown is the cheap path. Callers that reuse
  a small dim table across queries may ``.cache()`` explicitly.
- Partition discovery: a production deployment would point these at
  date-partitioned directories; partition pruning then composes with
  the same code path for free.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The driver's table set (TESTDATA.md); one parquet file per table.
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


# (id(session), sf_dir, table) -> (session, normalized lazy scan).
# A DataFrame is an immutable logical plan, so handing the same
# object to every builder is safe and skips the per-read
# file-listing/schema job — q_tpch_q5 alone touches 6 tables, and
# the driver re-builds every query 3x. Keyed by session identity (a
# new session must re-derive its own plans); the session object is
# pinned in the value so a collected session's id() can never alias
# a new one onto a stale plan.
_LOADED_TABLES: dict[tuple[int, str, str], tuple[SparkSession, DataFrame]] = {}


@lru_cache(maxsize=256)
def _footer_schema(path: str):
    """(read_schema DDL or None, nanos-timestamp column names).

    One driver-side parquet-footer read per file, cached. Feeding the
    schema to ``spark.read.schema(...)`` skips Spark's per-read
    schema-inference JOB entirely — the build of a 6-table plan like
    q_tpch_q5 runs zero jobs. (On a real deployment this is the
    catalog's job; deriving it from one footer is the catalog-less
    equivalent.) Two deliberate type choices in the mapping:

    - tz-naive ``timestamp[us/ms]`` maps to TIMESTAMP (not NTZ): the
      file's wall-clocks are UTC instants by convention, and Spark's
      reader loads the raw micros as epoch micros under TIMESTAMP, so
      this is value-correct under ANY session tz — and immune to the
      session-dependent NTZ inference that broke round 3.
    - ``timestamp[ns]`` maps to LONG to match the
      ``nanosAsLong`` escape hatch (Spark rejects nanos outright
      otherwise, PARQUET_TYPE_ILLEGAL); the caller converts back to
      microsecond timestamps after the scan.

    Returns (None, ()) when the footer is unreadable — the caller
    falls back to Spark's own inference + post-scan normalization.
    """
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    try:
        schema = pq.read_schema(path)
    except Exception:
        return None, ()

    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    nanos = tuple(
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    )
    try:
        base = from_arrow_schema(schema, prefer_timestamp_ntz=True)
    except Exception:
        return None, nanos
    fields = []
    for f in base.fields:
        if f.name in nanos:
            fields.append(StructField(f.name, LongType(), f.nullable))
        elif isinstance(f.dataType, TimestampNTZType):
            fields.append(StructField(f.name, TimestampType(), f.nullable))
        else:
            fields.append(f)
    return StructType(fields), nanos


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one table under ``sf_dir``.

    Two timestamp normalizations happen here so every downstream
    operator sees one canonical type (TIMESTAMP, session tz pinned
    UTC at session.py:69):

    - Nanosecond-timestamp columns (historical testdata format) are
      read as int64 nanos and converted to microsecond timestamps
      JVM-side (``timestamp_micros``), floor-dividing like every
      micros-capped consumer does.
    - TIMESTAMP_NTZ columns are cast to TIMESTAMP. The testdata
      stores tz-naive ``timestamp[us]``, which Spark 4.x may infer
      as TIMESTAMP_NTZ depending on session/reader settings we do
      NOT control (the driver hands us its session). NTZ breaks
      ``unix_micros`` and ``withWatermark`` at analysis time; with
      the session tz pinned UTC the cast is value-preserving, so
      normalizing here keeps every consumer agnostic to the
      inference drift. Both repairs stay narrow, codegen'd
      projections on top of the pushdown-capable scan.
    """
    from pyspark.sql.types import TimestampNTZType, TimestampType

    cache_key = (id(spark), sf_dir, name)
    cached = _LOADED_TABLES.get(cache_key)
    if cached is not None:
        return cached[1]
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, nanos_cols = _footer_schema(path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    if schema is not None:
        # explicit schema: no inference job, and timestamps land as
        # TIMESTAMP directly (see _footer_schema) — the NTZ branch
        # below is then a no-op kept as the fallback-path normalizer
        reader = reader.schema(schema)
    df = reader.parquet(path)
    for c in nanos_cols:
        # integer `div`, not `/`: float division of int64 nanos loses
        # precision above 2^53 and rounds the last microsecond digit
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)
    ]
    if ntz_cols:
        # The naive wall-clocks in the files are UTC instants (the
        # oracle's epoch_us assumes exactly that). A bare NTZ->LTZ
        # cast interprets the wall-clock in the SESSION tz, so it is
        # only value-preserving when that tz is UTC; for any other
        # session tz, rebase the wall-clock first so the resulting
        # instant is still the-naive-time-as-UTC.
        tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
        for c in ntz_cols:
            col = F.col(c)
            if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00"):
                col = F.convert_timezone(F.lit("UTC"), F.lit(tz), col)
            df = df.withColumn(c, col.cast(TimestampType()))
    _LOADED_TABLES[cache_key] = (spark, df)
    return df


@dataclass
class Tables:
    """Lazy namespace of the star-schema tables for one scale factor.

    Each attribute access builds a fresh lazy scan; nothing is read
    until an action runs. Keeps query-builder code close to SQL:
    ``t.lineitem.filter(...)``.
    """

    spark: SparkSession
    sf_dir: str
    _cache: dict = field(default_factory=dict)

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLE_NAMES:
            raise AttributeError(f"unknown table {name!r}")
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]


def tables(spark: SparkSession, sf_dir: str) -> Tables:
    return Tables(spark, sf_dir)


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every star-schema table as a session temp view so
    users can drive the engine with raw ``spark.sql(...)`` — the
    same names the DuckDB oracle layer registers, making any oracle
    SQL in this repo directly runnable against Spark too. Views are
    lazy scans (no data read); returns the registered names.
    Missing files are skipped so partial directories (e.g. a
    stream-staging dir holding only ``documents``) register what
    they have."""
    out = []
    for name in TABLE_NAMES:
        if not os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            continue
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        out.append(name)
    return out


# A single parquet file below one scan split serializes every
# downstream map-side stage onto ONE task — measured r17: the whole
# tokenize→8-gram→join pipeline of q_contamination ran as one 1.9 s
# single-task stage on an otherwise idle 32-core host (the fixture
# corpus is one ~0.6 MB file). Spread when the file cannot give the
# scan at least the cluster's parallelism; at production sizes
# (bytes ≫ this) the helper is a no-op, so the knob is
# scale-adaptive, not local-tuned. 128 MB = the default
# spark.sql.files.maxPartitionBytes (one split's worth).
SPREAD_MAX_BYTES = 128 * 1024 * 1024


def spread_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` plus a round-robin repartition to the cluster's
    default parallelism when the table's file bytes give the scan
    fewer splits than cores (guide §2.5 "input skew: one huge
    unsplittable file — repartition immediately after the read", the
    tiny-file mirror image). For COMPUTE-HEAVY consumers only
    (tokenize/explode/GEMM pipelines): the exchange it inserts moves
    the raw rows once, which costs ~nothing at fixture scale and is
    never inserted at production scale. Cheap map+agg consumers keep
    plain ``tables()`` — an exchange there buys nothing."""
    df = load_table(spark, sf_dir, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if "://" in path or not os.path.isfile(path):
        return df
    try:
        nbytes = os.path.getsize(path)
    except OSError:
        return df
    par = spark.sparkContext.defaultParallelism
    if nbytes >= SPREAD_MAX_BYTES or par <= 2:
        return df
    return df.repartition(par)


def footer_row_count(path: str) -> int | None:
    """Sum of footer ``num_rows`` over a parquet file or the top-level
    files of a directory — a driver-side metadata read, zero Spark
    jobs. None when there is no local file or any footer is unreadable
    (caller falls back to a Spark count). Uncached: a rewritten path
    reads its new footers."""
    import glob

    import pyarrow.parquet as pq

    files = (
        [path]
        if os.path.isfile(path)
        else sorted(glob.glob(os.path.join(path, "*.parquet")))
    )
    if not files:
        return None
    try:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


# source tables are immutable engine inputs: their counts memoize by path
_source_row_count = lru_cache(maxsize=256)(footer_row_count)


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a source table, from parquet footers when local
    (memoized, no job) or a Spark count otherwise.

    Exists for builders whose PLAN SHAPE depends on N (the derived
    GEMM tilings and LSH signature depths in operators/similarity.py):
    with the footer path they stay pure plans — no job runs at build
    time — and repeat builder invocations never re-count (ADVICE r5).
    Source tables are immutable engine inputs, so memoizing by path
    is sound; a mutating deployment would route this through its
    catalog's statistics instead.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if "://" not in path:
        n = _source_row_count(path)
        if n is not None:
            return n
    return load_table(spark, sf_dir, name).count()
