"""One on-disk layout for the engine's persisted, bucket-partitioned indexes.

The MinHash band index (:mod:`~mapreduceapp_spark.operators.dedup_index`),
the winnowing fingerprint index
(:mod:`~mapreduceapp_spark.operators.winnow_index`) and the ANN codes
index (:mod:`~mapreduceapp_spark.operators.ann_index`) persist the same
shuffle: every row is routed to ``bucket = pmod(key, n_buckets)`` and
lands in that bucket's directory of a parquet table partitioned by the
bucket column. This module owns how such an index sits on disk; the
index modules own only their rows and their probe logic.

Invariants every index keeps:

- **A pmod bucket per key.** ``n_buckets`` comes from
  :func:`bucket_count` over the index's entry count and the building
  session's parallelism, and is recorded in the meta file, so a probe,
  append or heal buckets its keys with the modulus the table on disk
  was written with, whatever process or box built it.
- **One write task per bucket.** :func:`write_bucketed` repartitions
  by the bucket column into ``n_buckets`` partitions before the write,
  so every row of a bucket is written by one task: the bucket count
  is the build's write parallelism, which is why it never starts
  below the session's cores. Inside a bucket, files are key-sorted
  chunks and the (lo, hi) key ranges of one write's files are
  disjoint. An append's files may overlap earlier ones; probes that
  prune by range are overlap-safe.
- **Sidecar paths are relative to the table root.** The file-range
  sidecar (:func:`write_file_ranges`) records ``bucket=N/part-*``
  paths that are rejoined to the current root on read
  (:func:`scan_files`), so a moved or copied index probes itself,
  never its old location.
- **Meta is written last.** :func:`write_meta` writes ``_meta.json``
  after every table has landed, with ``complete: true``, ``n_buckets``
  and ``source_rows``, the source table's footer row count. A
  directory without such a meta is not an index: :func:`read_meta`
  raises, and :func:`index_slot` rebuilds it.

Reference grounding: the reference's shuffle routes every intermediate
pair to a partition by key (``MapReduceFramework.cpp``); sizing the
partitions by entry count is the partition-sizing pattern of *MapReduce
Algorithms for Big Data Analysis* (VLDB 2012).
"""

from __future__ import annotations

import json
import os
from collections import Counter
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceapp_spark.plans.staging import staged_local_column, staging_root

# Bucket sizing, one rule for every index. The bucket count is also
# the build's write parallelism (one task per bucket), which sets both
# ends of the rule:
# - The floor is the session's parallelism: fewer buckets than cores
#   idles cores (one bucket for a 250k-document band index built in
#   31.1 s vs 23.7 s on 4 cores), and more buckets than the data needs
#   only add near-empty directories every build writes and every probe
#   lists.
# - FINE_ENTRIES_PER_BUCKET below FINE_MAX_BUCKETS buckets: while the
#   build has few tasks, a bucket holds at most 250k entries, so a
#   growing index spreads its write over more, smaller tasks before
#   its directories fill (a 250k-document band index on 4 cores, one
#   session, built in 20-25 s at 4 buckets, 13.6 s at 16, 16-17.5 s
#   at 64).
# - ENTRIES_PER_BUCKET: ~4M thin rows ≈ 64 MB per bucket directory, a
#   single well-formed parquet file, the unit row-group pruning works
#   best on.
# - MAX_BUCKETS 65,536: probes collect touched buckets to the driver as
#   plan-time literals, so the IN-list must stay a modest constant;
#   past the cap, key-sorted row groups inside each directory carry
#   the pruning.
FINE_ENTRIES_PER_BUCKET = 250_000
FINE_MAX_BUCKETS = 64
ENTRIES_PER_BUCKET = 4_000_000
MAX_BUCKETS = 65_536

# The file-range sidecar pays for itself only while the file grid is
# finer than the directory grid. At or below this many files per
# bucket the matched-file list and the matched-directory list are
# (near-)identical, so probes prune by directory instead (measured:
# q_dedup_index_probe 1.38 → 1.65 s paying a sidecar job that bought
# nothing at one file per bucket).
SIDECAR_MIN_FILES_PER_BUCKET = 2

# Up to this many pushed ids convert to a parquet VALUES predicate
# (row-group stats and dictionary skipping inside matched files).
# parquet-mr receives the list as a binary OR tree, so larger lists
# make the predicate itself the cost (measured: 40-76 s predicate-JIT
# walls at 1,024 values, executor StackOverflowError at 4,096).
VALUES_PUSH_MAX = 256

# Driver-read bound for a staged probe column: at or below this many
# staged rows the values are read from the staged parquet in-process
# (zero jobs); above it, or on a remote staging root, one aggregate
# job computes them.
LOCAL_READ_MAX_ROWS = 2_000_000

_REMOTE_ROOTS = ("hdfs://", "s3a://")


def bucket_count(entries: int, parallelism: int) -> int:
    """Directory count for an index of ``entries`` rows built by a
    session of ``parallelism`` cores (``defaultParallelism``): the
    smallest b = parallelism × 2^k with b × ENTRIES_PER_BUCKET ≥
    entries and, below FINE_MAX_BUCKETS, b × FINE_ENTRIES_PER_BUCKET
    ≥ entries; capped at MAX_BUCKETS. Callers pass their entry
    estimate (rows × entries per row); pure integer arithmetic, and
    the count is recorded in the meta, so readers never re-derive
    it."""
    b = max(1, parallelism)
    while b < MAX_BUCKETS and (
        b * ENTRIES_PER_BUCKET < entries
        or (b < FINE_MAX_BUCKETS and b * FINE_ENTRIES_PER_BUCKET < entries)
    ):
        b <<= 1
    return min(b, MAX_BUCKETS)


def bucket_of(key: str, n_buckets: int) -> Column:
    """``pmod(key, n_buckets)`` as an int column — the bucket rule."""
    return F.pmod(F.col(key), F.lit(n_buckets)).cast("int")


def meta_path(root: str) -> str:
    return os.path.join(root, "_meta.json")


def write_meta(root: str, *, n_buckets: int, source_rows: int, **extra) -> None:
    """Write ``_meta.json`` with ``complete: true``. Call it after every
    table of the index has landed: its presence proves the build
    finished, even where committer ``_SUCCESS`` markers are disabled or
    stripped."""
    os.makedirs(root, exist_ok=True)
    with open(meta_path(root), "w") as fh:
        json.dump(
            {
                **extra,
                "n_buckets": n_buckets,
                "source_rows": source_rows,
                "complete": True,
            },
            fh,
        )


def read_meta(root: str) -> dict:
    """The index's meta. Raises ValueError unless it is complete and
    current-format (it carries ``n_buckets`` and ``source_rows``):
    indexes from older writers, or torn builds, must be rebuilt."""
    try:
        with open(meta_path(root)) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        meta = {}
    if not (
        meta.get("complete") is True
        and "n_buckets" in meta
        and "source_rows" in meta
    ):
        raise ValueError(
            f"no complete current-format index at {root}; legacy or "
            "torn indexes must be rebuilt by their write_* builder"
        )
    return meta


def index_slot(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    table: str,
    build: Callable[[SparkSession, str, str], object],
) -> str:
    """Per-(process, sf_dir) index path under the staging root, built
    on first use (the 'corpus compaction' event) and reused after.

    A slot is reused only if its meta is complete and current-format
    and its ``source_rows`` equals the source ``table``'s footer row
    count (a zero-job read); otherwise ``build(spark, sf_dir, path)``
    rebuilds it. The count catches a fixture regenerated at the same
    ``sf_dir`` under a persistent ``SPARK_GRAFT_STAGING_DIR``. Remote
    roots are trusted as they are (no local meta to check)."""
    from mapreduceapp_spark.sources.parquet import table_row_count

    safe = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(staging_root(), f"{kind}_{safe}")
    if path.startswith(_REMOTE_ROOTS):
        return path
    try:
        fresh = read_meta(path)["source_rows"] == table_row_count(
            spark, sf_dir, table
        )
    except ValueError:
        fresh = False
    if not fresh:
        build(spark, sf_dir, path)
    return path


def write_bucketed(
    df: DataFrame,
    table_root: str,
    key: str,
    bucket: str,
    n_buckets: int,
    sort: tuple[str, ...],
    mode: str = "overwrite",
    rows_per_file: int | None = None,
    per_bucket: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Write ``df`` as a table partitioned by ``bucket = pmod(key,
    n_buckets)``: one shuffle into ``n_buckets`` partitions (one write
    task per bucket), rows sorted by ``sort`` within each, at most
    ``rows_per_file`` rows per file when given. ``per_bucket`` runs
    after the shuffle, where equal keys are co-located (the winnow
    build computes document frequency there without a second
    exchange)."""
    parts = df.withColumn(bucket, bucket_of(key, n_buckets)).repartition(
        n_buckets, bucket
    )
    if per_bucket is not None:
        parts = per_bucket(parts)
    writer = parts.sortWithinPartitions(*sort).write.mode(mode)
    if rows_per_file is not None:
        writer = writer.option("maxRecordsPerFile", rows_per_file)
    writer.partitionBy(bucket).parquet(table_root)


def list_files(spark: SparkSession, root: str, table: str) -> set[str]:
    """Paths, relative to the table root, of every data file under
    ``root/table`` — an append's before/after diff. Hadoop FileSystem
    listing (any scheme the index can live on), driver-side metadata
    only."""
    table_root = os.path.join(root, table)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(table_root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return set()
    out: set[str] = set()
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = it.next().getPath().toString()
        if not p.rsplit("/", 1)[-1].startswith(("_", ".")):
            out.add(p.split(f"/{table}/")[-1])
    return out


def write_file_ranges(
    spark: SparkSession,
    root: str,
    table: str,
    sidecar: str,
    key: str,
    bucket: str,
    files: set[str] | None = None,
    seg: str | None = None,
) -> int:
    """Derive and persist the file-range sidecar ``root/sidecar``: one
    (path, bucket, lo, hi) row per data file of ``root/table``, with
    ``lo``/``hi`` the file's ``key`` range and ``path`` relative to the
    table root, plus a constant ``seg`` column when given. Returns the
    number of files the written rows cover.

    ``files=None`` rewrites the sidecar from every file; a set of
    relative paths appends rows for just those files (an append's new
    files), so append cost tracks the batch, not the corpus. One
    column-pruned pass grouped by ``input_file_name()``; the path is
    split on the last ``/table/``, and below the table root the only
    segments are ``bucket=N/part-*``, which cannot contain it."""
    table_root = os.path.join(root, table)
    if files is None:
        scan = spark.read.parquet(table_root)
    elif not files:
        return 0
    else:
        scan = spark.read.option("basePath", table_root).parquet(
            *(os.path.join(table_root, f) for f in sorted(files))
        )
    ranges = (
        scan.select(
            key,
            bucket,
            F.element_at(
                F.split(F.input_file_name(), f"/{table}/"), -1
            ).alias("path"),
        )
        .groupBy("path", bucket)
        .agg(F.min(key).alias("lo"), F.max(key).alias("hi"))
    )
    if seg is not None:
        ranges = ranges.withColumn("seg", F.lit(seg))
    out = os.path.join(root, sidecar)
    ranges.coalesce(1).write.mode("overwrite" if files is None else "append").parquet(out)
    return len(files) if files is not None else written_rows(spark, out)


def written_rows(spark: SparkSession, path: str) -> int:
    """Rows of the parquet directory a build just wrote at ``path``:
    its footers (zero jobs), or a Spark count on a remote root."""
    from mapreduceapp_spark.sources.parquet import footer_row_count

    n = footer_row_count(path)
    return spark.read.parquet(path).count() if n is None else n


def scan_files(
    spark: SparkSession, root: str, table: str, bucket: str, paths
) -> DataFrame:
    """Scan of the listed data files of ``root/table`` (sidecar paths,
    relative to the table root) without the bucket column; no files
    gives an empty scan with the table's schema."""
    table_root = os.path.join(root, table)
    files = sorted({os.path.join(table_root, p) for p in paths})
    if files:
        scan = spark.read.option("basePath", table_root).parquet(*files)
    else:
        scan = spark.read.parquet(table_root).filter(F.lit(False))
    return scan.drop(bucket)


def push_values(scan: DataFrame, col: str, ids: list) -> DataFrame:
    """Filter a parquet scan to a bounded id list so that the list
    reaches the reader as a VALUES predicate. Above
    ``spark.sql.parquet.pushdown.inFilterThreshold`` (default 10) Spark
    pushes only the list's min/max range, which spans the whole table
    for scattered ids, so the threshold is raised to VALUES_PUSH_MAX —
    a session-level setting that never changes results. Callers bound
    the list."""
    spark = scan.sparkSession
    key = "spark.sql.parquet.pushdown.inFilterThreshold"
    if int(spark.conf.get(key, "10")) < VALUES_PUSH_MAX:
        spark.conf.set(key, str(VALUES_PUSH_MAX))
    return scan.filter(F.col(col).isin(ids))


def staged_counts(
    df: DataFrame, col: str, n_buckets: int | None = None
) -> dict[int, int]:
    """Row counts per value of ``col`` (per ``pmod(col, n_buckets)``
    when given) over a ``stage()`` result: read driver-side from the
    staged parquet when it is local and at most LOCAL_READ_MAX_ROWS
    rows (zero jobs), else one aggregate job."""
    vals = staged_local_column(df, col, LOCAL_READ_MAX_ROWS)
    if vals is not None:
        return Counter(v % n_buckets if n_buckets else v for v in vals)
    k = bucket_of(col, n_buckets) if n_buckets else F.col(col)
    rows = df.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("n"))
    return {r["k"]: r["n"] for r in rows.collect()}
