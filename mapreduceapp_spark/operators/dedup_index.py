"""Persisted, bucket-partitioned MinHash band index + pruned probe.

The corpus-scale form of streaming ingest dedup (NOTES_r08 named it
the next rung): ``incremental_dedup_stream`` re-plans the corpus
signature scan — cap window included — on EVERY micro-batch, which
is fine at rehearsal scale and prohibitive at 100 TB (the per-batch
floor is a full corpus-index re-derivation). The production shape is:

1. :func:`write_band_index` — ONCE per corpus compaction: explode
   the staged signature table into thin (band_key, doc_id) entries
   (signatures stored once per doc in a sibling table, never per
   band — the payload-carrying layout was measured 16× heavier and
   ~6× slower at sf0.1), apply the LSH bucket cap (same
   :func:`~mapreduceapp_spark.operators.dedup._capped_band_entries`
   fold the batch queries use, so index contents are bit-identical
   to the batch candidate generator's view), and persist as parquet
   PARTITIONED BY ``bucket = pmod(band_key, n_buckets)``, where
   ``n_buckets`` is derived from the corpus footer row count
   (:func:`index_bucket_count`) and persisted in ``_meta.json``.
2. :func:`probe_band_index` — per batch: compute the batch's band
   keys with the shared hash family, derive the touched bucket ids
   (≤ ``16·|batch|``, collapsed to ≤ ``n_buckets`` distinct
   ints — a bounded driver-side set, same justification class as the
   shingle drop-set collect), and scan the index WITH a partition
   filter on those ids. Spark prunes unlistable directories at
   planning time, so a small batch reads a small fraction of the
   index bytes no matter how large the corpus is; within each
   partition, band_key equality drives the join.

Why partition by ``pmod(band_key, N)`` and not ``band_key`` itself:
band keys are 64-bit hashes — one directory per distinct value is
millions of tiny files (the classic over-partitioning failure).
``n_buckets`` directories keep file counts flat while still
giving the probe ~|touched|/N byte-level pruning; within a
partition, parquet row-group statistics on the sorted band_key
column prune further (entries are written sorted by band_key).

Registered query ``q_dedup_index_probe`` runs the full loop —
build index for the corpus split, probe the batch split — and must
produce EXACTLY ``q_incremental_dedup``'s rows (same oracle): the
index is a materialized re-layout of the same capped band entries,
the probe the same candidate→prefilter→verify chain.

Reference grounding: the reference has no persistence at all (one
in-memory job, ``MapReduceFramework.cpp:140``); this is the engine's
index-shaped sink, the analog of its phase-output vectors made
durable and prunable.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceapp_spark.operators.dedup import (
    INCR_BATCH_MOD,
    INCR_BATCH_RESIDUE,
    JACCARD_THRESHOLD,
    LSH_BANDS,
    LSH_BUCKET_CAP,
    MINHASH_PERMS,
    _capped_band_entries,
    _doc_shingles_with_minhash,
    _int_round4,
    band_key_array,
)
from mapreduceapp_spark.plans.hints import broadcast_if_small
from mapreduceapp_spark.plans.registry import register
from mapreduceapp_spark.plans.staging import slot, stage, staging_root

# Directory-partition sizing for the persisted index — DERIVED from
# the corpus footprint at build time (the engine's stride convention:
# IVF derives √N from footers, this derives the partition count from
# the entry count), then persisted in the index's _meta.json so every
# probe partitions its band keys exactly the way the index on disk
# is laid out, whatever round or process built it.
#
# - ENTRIES_PER_BUCKET: one build writes ~4M thin (band_key, doc_id)
#   rows ≈ 64 MB per bucket directory — a single well-formed parquet
#   file, the unit row-group pruning works best on.
# - MIN 64: below 64 directories the probe loses pruning resolution
#   and saves nothing (a directory listing is already trivial) — and
#   the fixture-scale layout stays identical to the recorded history.
# - MAX 65,536: the probe collects the touched-bucket set to the
#   driver as plan-time literals (the bounded-constant contract) and
#   the IN-list must stay a modest literal; past the cap, per-bucket
#   volume grows and the band_key-sorted row groups inside each
#   directory carry the pruning instead (at 100 TB: 1e11 docs × 16
#   bands / 65,536 ≈ 24M entries ≈ 400 MB per bucket — a handful of
#   files, one row group touched per point band key).
INDEX_ENTRIES_PER_BUCKET = 4_000_000
INDEX_MIN_BUCKETS = 64
INDEX_MAX_BUCKETS = 65_536

# Rows per sigs/ data file. Directory pruning bottomed out at
# min(n_cand, B)/B of sig bytes (uniform-random candidate ids touch
# almost every bucket — index_probe_scaling_r10: a 1-doc probe read
# 87% of sig bytes at B=64), so the r11 rung is POINT skipping below
# the directory: files inside a bucket are doc_id-sorted contiguous
# chunks of ≤ this many rows, their (lo, hi) ranges recorded in a
# sig_files/ stats sidecar at build (the TxLog per-file-stats
# pattern), and the probe scans exactly the files whose range holds a
# candidate — sig bytes ∝ candidates, grid-limited only. ~16k rows ×
# ~2-4 KB/row (sig + shingles arrays) ≈ 32-64 MB files — the healthy
# scan unit; tests and the scaling script pass smaller values to make
# the skipping observable at fixture scale.
SIG_ROWS_PER_FILE = 16_384


def index_bucket_count(n_docs: int) -> int:
    """Power-of-two directory count for an ``n_docs``-document
    corpus: smallest b in [MIN, MAX] with b × ENTRIES_PER_BUCKET ≥
    n_docs × LSH_BANDS. Pure integer arithmetic — identical in every
    process that derives it."""
    entries = max(1, n_docs) * LSH_BANDS
    b = INDEX_MIN_BUCKETS
    while b < INDEX_MAX_BUCKETS and b * INDEX_ENTRIES_PER_BUCKET < entries:
        b <<= 1
    return b


def _meta_path(index_path: str) -> str:
    return os.path.join(index_path, "_meta.json")


def index_meta(index_path: str) -> dict:
    """Layout metadata the probe must agree with the build on. A
    pre-metadata index (earlier rounds) was always 64 buckets."""
    try:
        with open(_meta_path(index_path)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {"n_buckets": INDEX_MIN_BUCKETS}


def _band_entries(sh: DataFrame, n_buckets: int) -> DataFrame:
    """(band_key, bucket, doc_id) — one thin row per (doc, band).
    Deliberately WITHOUT the sig/sh payload: a band index carrying
    the arrays stores every document's signature and shingle set 16
    times (once per band) — measured 7.0 s vs 1.2 s for the
    payload-free layout + sig join at sf0.1, and 16× the bytes at
    every scale. Signatures live once per doc in the sibling ``sigs``
    table instead."""
    return sh.select(
        "doc_id", F.explode(band_key_array()).alias("band_key")
    ).withColumn(
        "bucket", F.pmod(F.col("band_key"), F.lit(n_buckets)).cast("int")
    )


def write_sig_file_stats(spark: SparkSession, path: str) -> int:
    """Derive and persist the ``sig_files/`` stats sidecar — one
    (path, sig_bucket, lo, hi) row per sigs/ data file — and return
    the file count. Distributed, not a driver footer sweep: one
    column-pruned pass over the thin doc_id column grouped by
    ``input_file_name()`` (at corpus scale that is a metadata-cheap
    scan; the heavy sig/sh columns are never touched). Split out so
    the scaling script can re-derive stats after inflating sigs/.

    Paths are stored RELATIVE to the ``sigs/`` root (ADVICE r11): an
    index directory is a durable per-compaction asset that may be
    moved, copied, or re-mounted (the remote hdfs://s3a slots in
    ``_index_slot`` contemplate exactly that), and a sidecar of
    absolute ``input_file_name()`` URIs would probe the OLD location
    after any such move — failing if it is gone, silently reading
    stale data if it survives. The relative form is rejoined to the
    CURRENT index root at read time in :func:`fetch_candidate_sigs`.
    Split on the LAST ``/sigs/`` occurrence: below the root the only
    path segments are ``sig_bucket=N/part-*.parquet``, which cannot
    contain it, so a ``/sigs/`` higher up in the mount path cannot
    corrupt the split."""
    sig_scan = spark.read.parquet(os.path.join(path, "sigs"))
    stats = (
        sig_scan.select(
            "doc_id",
            "sig_bucket",
            F.element_at(
                F.split(F.input_file_name(), "/sigs/"), -1
            ).alias("path"),
        )
        .groupBy("path", "sig_bucket")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    )
    stats.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "sig_files")
    )
    return spark.read.parquet(os.path.join(path, "sig_files")).count()


def write_band_index(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    corpus_only: bool = True,
    sig_rows_per_file: int = SIG_ROWS_PER_FILE,
) -> str:
    """Build and persist the corpus band index; returns ``path``.

    Three tables under ``path``:
    - ``bands/`` — (band_key, doc_id) partitioned by
      ``bucket = pmod(band_key, n_buckets)``, band_key-sorted
      within files (row-group pruning inside a directory). The cap is
      applied at BUILD time: an over-cap band bucket carries no
      usable signal and would otherwise be re-filtered by every
      probe; the fold rides the repartition-by-bucket shuffle's
      co-location.
    - ``sigs/`` — (doc_id, sig, sh), ONE row per document,
      partitioned by ``sig_bucket = pmod(doc_id, n_buckets)`` — the
      verification side every probe joins its candidates against.
      Within each bucket directory, files are doc_id-SORTED
      contiguous chunks of ≤ ``sig_rows_per_file`` rows (each bucket
      is written by exactly one task, so chunk ranges are disjoint) —
      the point-skipping grid.
    - ``sig_files/`` — the per-file (sig_bucket, lo, hi) doc-range
      stats the probe prunes with. Directory pruning alone is
      candidate-bound (min(n_cand, B)/B of sig bytes — 87% for a
      1-doc probe at B=64, measured r10); with file stats the probe
      reads only files whose range actually holds a candidate, so
      sig bytes ∝ candidates.
    """
    from mapreduceapp_spark.sources.parquet import table_row_count

    # derive the layout from the corpus footprint (footer count — no
    # job) and persist it: probes must bucket by the SAME modulus
    n_docs = table_row_count(spark, sf_dir, "documents")
    n_buckets = index_bucket_count(n_docs)
    sh = stage(_doc_shingles_with_minhash(spark, sf_dir), "minhash_signatures")
    if corpus_only:
        sh = sh.filter((F.col("doc_id") % INCR_BATCH_MOD) < INCR_BATCH_RESIDUE)
    entries = _capped_band_entries(
        _band_entries(sh, n_buckets), ["band_key"], LSH_BUCKET_CAP
    )
    (
        entries.repartition(n_buckets, "bucket")
        .sortWithinPartitions("band_key")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(path, "bands"))
    )
    (
        sh.select("doc_id", "sig", "sh")
        .withColumn(
            "sig_bucket",
            F.pmod(F.col("doc_id"), F.lit(n_buckets)).cast("int"),
        )
        .repartition(n_buckets, "sig_bucket")
        .sortWithinPartitions("sig_bucket", "doc_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", sig_rows_per_file)
        .partitionBy("sig_bucket")
        .parquet(os.path.join(path, "sigs"))
    )
    n_sig_files = write_sig_file_stats(spark, path)
    os.makedirs(path, exist_ok=True)
    with open(_meta_path(path), "w") as fh:
        json.dump(
            {
                "n_buckets": n_buckets,
                # source-table fingerprint for slot-reuse staleness
                # checks (the ADVICE r15 #3 class, band side)
                "n_docs": n_docs,
                "sigs_partitioned": True,
                "sig_files": True,
                # plan-time bound for broadcasting the stats sidecar
                "n_sig_files": n_sig_files,
                # completeness flag (ADVICE r12): _meta.json is the
                # LAST artifact this build writes, so its presence
                # with this flag proves every table landed — even in
                # sessions where the committer's _SUCCESS markers are
                # disabled (marksuccessfuljobs=false) or stripped by
                # cleanup tooling, which would otherwise force a full
                # silent rebuild on every probe.
                "complete": True,
            },
            fh,
        )
    return path


def _list_sig_files(spark: SparkSession, index_path: str) -> set[str]:
    """Relative paths of every data file under ``sigs/`` — the
    append's before/after diff source. Hadoop FileSystem listing via
    the JVM gateway (works on any scheme the index can live on:
    local, hdfs://, s3a://), driver-side metadata only — the same
    cost class as the file listing every parquet read of the table
    already performs."""
    sigs_root = os.path.join(index_path, "sigs")
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(sigs_root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return set()
    out: set[str] = set()
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = it.next().getPath().toString()
        name = p.rsplit("/", 1)[-1]
        if name.startswith(("_", ".")):
            continue
        out.add(p.split("/sigs/")[-1])
    return out


def _append_sig_file_stats(
    spark: SparkSession, index_path: str, new_files: set[str]
) -> None:
    """Derive (path, sig_bucket, lo, hi) rows for ONLY the files an
    append just wrote and add them to the ``sig_files/`` sidecar with
    parquet append — the incremental twin of
    :func:`write_sig_file_stats`. A full sidecar regeneration scans
    every sigs file's thin columns; per ingest micro-batch at corpus
    scale that is a fixed cost proportional to the CORPUS (millions
    of files), exactly the per-epoch fixed-cost regime the probe's
    THIN_PREFILTER gate exists to avoid — the incremental form scans
    batch files only, so append cost tracks the batch."""
    sigs_root = os.path.join(index_path, "sigs")
    scan = spark.read.option("basePath", sigs_root).parquet(
        *(os.path.join(sigs_root, f) for f in sorted(new_files))
    )
    stats = (
        scan.select(
            "doc_id",
            "sig_bucket",
            F.element_at(
                F.split(F.input_file_name(), "/sigs/"), -1
            ).alias("path"),
        )
        .groupBy("path", "sig_bucket")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    )
    stats.coalesce(1).write.mode("append").parquet(
        os.path.join(index_path, "sig_files")
    )


def _pending_path(index_path: str) -> str:
    return os.path.join(index_path, "_pending.json")


def heal_band_index(spark: SparkSession, index_path: str) -> bool:
    """Crash-recovery for a torn append (ADVICE r15 #1, applied to
    the band index): :func:`append_band_index` drops a ``_pending``
    marker before its first data write and removes it after the meta
    rewrite, so a marker left behind means data files may exist that
    the sidecar/meta do not cover — the state where sidecar-pruned
    probes and directory-pruned probes disagree. The heal regenerates
    the FULL sidecar + meta from what is actually on disk (idempotent
    — every committed row re-derives to the same stats) and clears
    the marker. Returns True when a heal ran.

    Probe-time cost when no crash happened: one ``os.path.exists``
    stat — nothing at all in the steady state."""
    if not os.path.exists(_pending_path(index_path)):
        return False
    meta = index_meta(index_path)
    meta["n_sig_files"] = write_sig_file_stats(spark, index_path)
    # the torn append's meta rewrite never ran, so its segment bump
    # may be missing: force the appended regime on — uncapped rows
    # may now be on disk, and the probe's cap window must see them
    meta["appended_segments"] = meta.get("appended_segments", 0) + 1
    with open(_meta_path(index_path), "w") as fh:
        json.dump(meta, fh)
    os.remove(_pending_path(index_path))
    return True


def append_band_index(
    spark: SparkSession,
    index_path: str,
    new_sh: DataFrame,
    sig_rows_per_file: int = SIG_ROWS_PER_FILE,
) -> str:
    """Append a signed document batch (doc_id, sig, sh — the shared
    :func:`~mapreduceapp_spark.operators.dedup.minhash_signatures_for`
    output, so the hash family / shingle drop-set / band keys are
    frozen by construction) to an existing band index WITHOUT a
    corpus recompaction — the band-index twin of
    :func:`~mapreduceapp_spark.operators.ann_index.append_ann_index`
    (VERDICT r15 ask #1). Returns ``index_path``.

    Closes the streaming ingest blind window: the probe-only ingest
    path (streaming/probe.py ``indexed_ingest_dedup``) never admitted
    accepted docs, so two near-duplicate documents arriving in
    different micro-batches were invisible to each other until the
    next full compaction. With probe-then-append per micro-batch,
    batch N's docs are live candidates for batch N+1.

    Semantics and the bucket cap: appended band entries are
    deliberately UNCAPPED — every appended (doc, band) row depends
    only on the doc itself plus the frozen layout, which makes
    appends segmentation-invariant BY CONSTRUCTION (one batch ≡ any
    split of it — pinned by test). The build-time over-cap-band drop
    is instead re-applied by the PROBE over its pruned band scan
    whenever meta records appended segments (a band's rows all share
    one bucket, so the pruned scan always holds whole bands and the
    window count is the TRUE global band count): a band pushed over
    the cap by appended mass stops producing candidates, exactly as
    a rebuild would drop it. The one residual divergence from a full
    rebuild is a band ALREADY over-cap at build time (absent from the
    persisted corpus entries): its appended rows survive the probe
    cap, so the appended index can emit verified pairs a rebuild
    would skip — strictly MORE dedup coverage, every extra pair still
    exact-Jaccard-verified, restored to the build contract at the
    next compaction.

    Layout: band rows append into the frozen ``bucket=pmod(band_key,
    n_buckets)`` directories; sig rows append into the frozen
    ``sig_bucket`` directories as doc_id-sorted bounded files. New
    files' doc ranges may OVERLAP existing files' ranges (the build's
    one-task-per-bucket disjointness holds per segment, not across
    segments) — :func:`fetch_candidate_sigs` is overlap-safe: a
    candidate matching two files reads one extra file and inflates
    ``n_cand``, which only makes the broadcast/push gates more
    conservative, never wrong. The sidecar grows INCREMENTALLY
    (stats derived from the new files only — append cost tracks the
    batch, not the corpus).

    Crash window: data files land before the sidecar/meta rewrite.
    A ``_pending`` marker brackets the whole append (exclusive
    create, the TxLog commit primitive) and
    :func:`heal_band_index` — one stat per probe — regenerates
    sidecar+meta from disk if the marker is ever found, so the two
    pruning regimes can never silently disagree after a crash."""
    meta = index_meta(index_path)
    if not (meta.get("complete") and meta.get("sig_files")):
        raise ValueError(
            "append_band_index requires a complete current-format "
            f"index (sig_files sidecar) at {index_path}; legacy "
            "indexes must be rebuilt by write_band_index"
        )
    n_buckets = meta["n_buckets"]
    # heal-at-entry (ADVICE r16 #2): a prior CRASHED append leaves the
    # _pending marker behind, and only probe_band_index healed it — a
    # direct append after a crash (no intervening probe) died on a raw
    # FileExistsError. Healing here is idempotent and re-reads meta
    # after; a marker owned by a LIVE concurrent writer is
    # indistinguishable from a crashed one, which is exactly the
    # single-writer-per-index contract both appendable indexes
    # document — the heal then rolls that writer's partial data
    # forward, the same visibility the crash semantics already give.
    if heal_band_index(spark, index_path):
        meta = index_meta(index_path)
    # exclusive create of the marker. NOTE (ADVICE r17 #1): since the
    # r17 heal-at-entry above, this guard no longer DETECTS a live
    # concurrent writer — the heal deletes the other writer's marker
    # and rolls its partial data forward before this create runs.
    # Crash visibility is unchanged; protection against two LIVE
    # writers rests entirely on the documented single-writer-per-index
    # contract (SCALE.md), not on this create failing.
    with open(_pending_path(index_path), "x") as fh:
        json.dump({"op": "append"}, fh)
    # any raise below leaves the marker in place — the next probe's
    # heal_band_index reconciles sidecar+meta with what hit disk
    before = _list_sig_files(spark, index_path)
    entries = _band_entries(new_sh, n_buckets)
    (
        entries.repartition(n_buckets, "bucket")
        .sortWithinPartitions("band_key")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(os.path.join(index_path, "bands"))
    )
    (
        new_sh.select("doc_id", "sig", "sh")
        .withColumn(
            "sig_bucket",
            F.pmod(F.col("doc_id"), F.lit(n_buckets)).cast("int"),
        )
        .repartition(n_buckets, "sig_bucket")
        .sortWithinPartitions("sig_bucket", "doc_id")
        .write.mode("append")
        .option("maxRecordsPerFile", sig_rows_per_file)
        .partitionBy("sig_bucket")
        .parquet(os.path.join(index_path, "sigs"))
    )
    new_files = _list_sig_files(spark, index_path) - before
    if new_files:
        _append_sig_file_stats(spark, index_path, new_files)
    meta["n_sig_files"] = meta.get("n_sig_files", 0) + len(new_files)
    meta["appended_segments"] = meta.get("appended_segments", 0) + 1
    with open(_meta_path(index_path), "w") as fh:
        json.dump(meta, fh)
    os.remove(_pending_path(index_path))
    return index_path


def touched_buckets(probe_bands: DataFrame) -> list[int]:
    """Distinct index partitions a batch's band keys land in —
    bounded at the index's bucket count (≤ INDEX_MAX_BUCKETS ints) by
    construction, so the driver-side collect is a constant, not a
    data-sized pull."""
    return sorted(
        r["bucket"] for r in probe_bands.select("bucket").distinct().collect()
    )


def _probe_pruning_stats(probe_bands: DataFrame) -> tuple[list[int], int]:
    """:func:`touched_buckets` plus an approximate batch doc count,
    in ONE bounded job (r14): the probe needs both at plan time —
    pruning literals for the band scan, the doc estimate for the
    sig_n broadcast gate — and running two driver jobs over the same
    band expansion would double the fixed per-probe cost. approx is
    deliberate: the count sizes a broadcast, never semantics.
    Module-level (like touched_buckets) so the scaling harness can
    patch the pruning decision for its no-prune control.

    The doc estimate is INFLATED by the sketch's error band before
    return (ADVICE r14): approx_count_distinct defaults to ~5% rsd,
    so an underestimate near BROADCAST_KEY_ROWS could hint a
    broadcast of a frame that actually exceeds the budget — a
    perf/memory risk, never semantics. 10% headroom covers ~2σ."""
    row = probe_bands.agg(
        F.collect_set("bucket").alias("bs"),
        F.approx_count_distinct("new_doc").alias("nd"),
    ).collect()[0]
    return sorted(row["bs"]), int(row["nd"] * 1.1) + 1


# The sidecar-stats join is an extra bounded job; it pays for itself
# only while the file grid is meaningfully finer than the directory
# grid. At or below this many files per bucket the matched-file list
# and the matched-directory list are (near-)identical, so the probe
# routes to directory pruning instead — the VERDICT r11 regime gate
# (q_dedup_index_probe regressed 1.38 → 1.65 s calm paying a stats
# job that bought nothing at fixture scale, where every bucket holds
# exactly one sigs file). The corpus-scale regime (millions of files,
# thousands per bucket) keeps the sidecar path.
SIDECAR_MIN_FILES_PER_BUCKET = 2

# Bounded-literal cap for pushing the candidate doc ids into the sigs
# scan as a parquet predicate (same driver-literal class as
# touched_buckets). Files are doc_id-sorted, so the pushed filter
# prunes at PAGE/row-group grain via parquet column statistics —
# the skipping rung BELOW the file grid (VERDICT r11 ask #5: the r11
# fetch curve saturates when candidates touch every file; inside a
# matched file this predicate is what keeps decoded bytes ∝
# candidates). Above the cap the IN-list would bloat the plan; the
# file/directory grain already bounds the scan there.
DOC_PUSH_CAP = 4096

# Values-pushdown bound (r13): up to this many pushed ids convert to
# a parquet VALUES predicate (row-group stats + dictionary skipping
# inside matched files); beyond it, parquet-mr's binary OR-tree
# representation makes the predicate itself the cost (measured:
# 40-76 s predicate-JIT walls at 1,024 values, executor
# StackOverflowError at 4,096), so larger lists keep only the
# Catalyst row filter + the pushed min/max range.
DOC_PUSH_VALUES_MAX = 256

# Candidate-count gate between the probe's two prefilter shapes
# (see probe_band_index): at or above this many candidate rows the
# thin-sig prefilter + survivor join-back wins (measured 2.5-3× at
# sf1's 378k candidates); below it the extra join-back and broadcasts
# are fixed costs that dominate micro-batch probes (measured: the
# streaming epoch loop regressed 6.95 → 11.1-11.9 s always-thin).
# 32,768 candidates × ~5 KB of arrays ≈ 160 MB through the payload
# join — comfortably under the exchange volumes the thin form exists
# to avoid, so the crossover sits safely between the regimes.
THIN_PREFILTER_MIN_CAND = 32_768


def _push_doc_filter(sigs: DataFrame, cand: DataFrame, n_cand: int) -> DataFrame:
    """Push the candidate doc ids into the sigs scan when the set is
    small enough to be a plan literal — page-level skipping inside
    matched files (doc_id-sorted ⇒ tight column stats). Semantics-
    preserving: every consumer joins sigs back to the candidate set,
    so restricting the scan to candidate ids drops only rows the join
    would drop. ``cand`` is staged by the probe, so the distinct
    collect is one small job over thin staged bytes, bounded by
    ``n_cand`` ≤ DOC_PUSH_CAP rows.

    The IN list must survive conversion to a parquet VALUES predicate
    or the push is theater (measured, r13): above
    ``spark.sql.parquet.pushdown.inFilterThreshold`` (default 10)
    Spark pushes only the list's min/max RANGE, which spans the whole
    corpus for uniformly-spread candidates — the reader then decodes
    every row of every matched file (256,000 of 256,000 rows in the
    r13 lab) where the values predicate skips at row-group/page grain
    via stats and dictionary filtering. So the threshold is raised to
    DOC_PUSH_VALUES_MAX here — NOT to DOC_PUSH_CAP: Spark hands
    parquet-mr the list as a BINARY OR tree, so evaluation cost and
    stack depth grow with the list (measured r13: 1,024 values
    blow predicate-JIT walls to 40-76 s, 4,096 values
    StackOverflowError executor tasks). Above the values bound the
    push degrades gracefully to the row-level Catalyst filter +
    min/max range, with the file/directory grain still bounding IO.
    Session-level side effect, documented deliberately: it only
    widens values-pushdown for other moderate IN plans and never
    changes results."""
    if not 0 < n_cand <= DOC_PUSH_CAP:
        return sigs
    spark = sigs.sparkSession
    thresh_key = "spark.sql.parquet.pushdown.inFilterThreshold"
    if int(spark.conf.get(thresh_key, "10")) < DOC_PUSH_VALUES_MAX:
        spark.conf.set(thresh_key, str(DOC_PUSH_VALUES_MAX))
    # the candidate slot is staged and ≤ DOC_PUSH_CAP rows here — read
    # it driver-side when local (zero jobs; r18, VERDICT r17 ask #5),
    # with the distinct-collect job as the designed fallback
    from mapreduceapp_spark.plans.staging import staged_local_column

    vals = staged_local_column(cand, "corpus_doc", DOC_PUSH_CAP)
    if vals is not None:
        ids = sorted(set(vals))
    else:
        ids = [
            r["corpus_doc"]
            for r in cand.select("corpus_doc").distinct().collect()
        ]
    return sigs.filter(F.col("doc_id").isin(ids))


def fetch_candidate_sigs(
    spark: SparkSession, index_path: str, cand: DataFrame
) -> tuple[DataFrame, int | None]:
    """Pruned scan of the index's ``sigs/`` table for a candidate set
    (any frame with a ``corpus_doc`` column): returns (sigs scan,
    candidate row count) — the point-fetch primitive the probe (and
    the scaling harness) builds on.

    File-grain path (r11+ indexes whose grid is finer than the
    directory grid — see SIDECAR_MIN_FILES_PER_BUCKET): one bounded
    job serves two plan decisions — joining the candidates to the
    broadcast per-file stats yields the exact file list to scan
    (→ sig bytes ∝ candidates) AND the candidate row count (→ the
    broadcast gate). Bucket equality drives the hash join; the range
    containment is a residual condition inside each bucket's handful
    of files, so the match never degenerates to candidates × files.
    Sidecar paths are stored relative to ``sigs/`` and rejoined to
    the CURRENT root here, so a moved/copied index probes itself,
    never its birthplace (ADVICE r11); absolute paths from a pre-r12
    sidecar are recognized and used as-is.

    Directory-pruning path (pre-r11 ``sigs_partitioned`` indexes, and
    any index whose file grid is no finer than its buckets): the
    per-bucket fold yields the candidate sig-partition list
    (≤ n_buckets ints → the pruning literals) AND the candidate row
    count. Without the explicit broadcast the caller applies with
    that count, cand's post-mapInPandas stats are unknown and Spark
    sort-merges — shuffling the corpus signature ARRAYS, the one
    payload the probe exists to avoid moving (measured 30s vs 2s on
    a 64×-inflated sf0.1 index). Pre-metadata indexes: full scan,
    count unknown (None).

    BOTH pruned paths additionally push the candidate doc ids into
    the parquet scan when the set is a bounded literal
    (``DOC_PUSH_CAP``) — page-grain skipping below whichever grid
    chose the files."""
    meta = index_meta(index_path)
    n_buckets = meta["n_buckets"]
    sigs_root = os.path.join(index_path, "sigs")
    n_files = meta.get("n_sig_files")
    if meta.get("sig_files") and n_files is None:
        from mapreduceapp_spark.sources.parquet import _footer_row_count

        # size the sidecar broadcast from meta, falling back to the
        # sidecar's own footers (driver-side metadata, zero jobs),
        # then to one count job over the thin sidecar — never encode
        # "unknown" as "fits" (the class adc_topk gates)
        n_files = _footer_row_count(os.path.join(index_path, "sig_files"))
        if n_files is None:
            n_files = spark.read.parquet(
                os.path.join(index_path, "sig_files")
            ).count()
    use_sidecar = (
        meta.get("sig_files")
        and n_files > SIDECAR_MIN_FILES_PER_BUCKET * n_buckets
    )
    if use_sidecar:
        stats_df = spark.read.parquet(os.path.join(index_path, "sig_files"))
        stats = broadcast_if_small(stats_df, n_files)
        cand_b = cand.withColumn(
            "b", F.pmod(F.col("corpus_doc"), F.lit(n_buckets)).cast("int")
        )
        per_file = (
            cand_b.join(
                stats,
                (cand_b["b"] == stats["sig_bucket"])
                & cand_b["corpus_doc"].between(stats["lo"], stats["hi"]),
                "left",
            )
            .groupBy("path")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        n_cand = sum(r["n"] for r in per_file)
        files = sorted(
            r["path"]
            if ("://" in r["path"] or r["path"].startswith("/"))
            else os.path.join(sigs_root, r["path"])
            for r in per_file
            if r["path"] is not None
        )
        if files:
            sigs = spark.read.option("basePath", sigs_root).parquet(*files)
        else:
            sigs = spark.read.parquet(sigs_root).filter(F.lit(False))
        return _push_doc_filter(sigs.drop("sig_bucket"), cand, n_cand), n_cand
    if meta.get("sigs_partitioned"):
        sigs = spark.read.parquet(sigs_root)
        # per-bucket candidate counts: driver-side over the staged
        # candidate slot when local and small (zero jobs; r18, VERDICT
        # r17 ask #5 — this is the benched probe's hot path at fixture
        # file geometry), pmod mirrored exactly; the agg job remains
        # the fallback
        from mapreduceapp_spark.plans.staging import staged_local_column

        vals = staged_local_column(cand, "corpus_doc", 1_000_000)
        if vals is not None:
            from collections import Counter

            cnt = Counter(((v % n_buckets) + n_buckets) % n_buckets for v in vals)
            sig_buckets = sorted(cnt)
            n_cand = sum(cnt.values())
        else:
            per_bucket = (
                cand.groupBy(
                    F.pmod(F.col("corpus_doc"), F.lit(n_buckets))
                    .cast("int")
                    .alias("b")
                )
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            sig_buckets = sorted(r["b"] for r in per_bucket)
            n_cand = sum(r["n"] for r in per_bucket)
        sigs = (
            sigs.filter(F.col("sig_bucket").isin(sig_buckets))
            if sig_buckets
            else sigs.filter(F.lit(False))
        ).drop("sig_bucket")
        return _push_doc_filter(sigs, cand, n_cand), n_cand
    return spark.read.parquet(sigs_root), None


def probe_band_index(
    spark: SparkSession, index_path: str, probe_sh: DataFrame
) -> DataFrame:
    """Probe signature rows (doc_id, sig, sh) against a persisted
    band index; emit exact-verified (corpus_doc, new_doc, inter, uni,
    jac) pairs — the same chain (band join → signature-agreement
    prefilter → exact Jaccard verify → post-verify dedup) as the
    batch and streaming twins, with the corpus side read through
    partition pruning instead of re-derived.

    The band join is key-only: (band_key, doc_id) meets
    (band_key, doc_id) and the arrays join in AFTERWARDS by doc key —
    the batch side once for the prefilter+verify payload, the corpus
    side from the index's ``sigs`` table. Candidate volume is capped
    by the build-time bucket cap, so the sig joins carry candidate
    rows, never band fan-out × array bytes.

    BOTH index scans are pruned with plan-time literals: the band
    scan by the batch's own bucket set (a partition filter, derivable
    before touching the index); the sigs scan — the heavy side, the
    corpus signature ARRAYS — by per-FILE doc-range stats: the
    candidates join the broadcast ``sig_files`` sidecar (bucket
    equality + range containment, so the match cost is hash-join
    linear, never candidates × files) and the probe scans exactly
    the matched files. That makes sig bytes ∝ candidate count — the
    r11 rung past directory pruning, whose floor was
    min(n_cand, B)/B of sig bytes because uniform-random candidate
    ids touch almost every bucket (87% for a 1-doc probe at B=64,
    index_probe_scaling_r10). The matched-file collect is bounded by
    min(n_candidates, n_sig_files) rows — the same quantity the scan
    itself is proportional to. Pre-r11 indexes without the sidecar
    fall back to directory pruning; pre-metadata indexes to a full
    scan.
    """
    heal_band_index(spark, index_path)  # steady-state cost: one stat
    meta = index_meta(index_path)
    n_buckets = meta["n_buckets"]
    probe_bands = _band_entries(probe_sh, n_buckets).select(
        F.col("doc_id").alias("new_doc"), "band_key", "bucket"
    )
    buckets, n_batch_est = _probe_pruning_stats(probe_bands)
    idx = spark.read.parquet(os.path.join(index_path, "bands")).filter(
        F.col("bucket").isin(buckets)
    )
    if meta.get("appended_segments"):
        # appended band entries are written UNCAPPED (segmentation
        # invariance by construction — see append_band_index); the
        # build-time over-cap-band drop is restored here, over the
        # pruned scan. Sound because a band's rows all share one
        # bucket directory: the pruned scan holds WHOLE bands, so the
        # window count is the true global band count. The window
        # rides the exchange the band join needs anyway; gated on
        # appended_segments so never-appended indexes keep their
        # recorded plan byte-for-byte.
        idx = _capped_band_entries(idx, ["band_key"], LSH_BUCKET_CAP)
    idx = idx.select(F.col("doc_id").alias("corpus_doc"), "band_key")
    # the candidate set is staged (bounded: ≤ batch_bands × bucket
    # cap thin rows), so its lineage — probe minhash expansion +
    # pruned band-index join — executes ONCE per probe: the
    # sig-bucket collect below and the returned plan both read the
    # staged bytes instead of re-running the index scan
    cand = stage(
        probe_bands.drop("bucket")
        .join(idx, "band_key")
        .select("new_doc", "corpus_doc"),
        "probe_cand",
    )
    sigs, n_cand = fetch_candidate_sigs(spark, index_path, cand)
    if n_cand is not None:
        cand = broadcast_if_small(cand, n_cand)
    # Two prefilter regimes behind the candidate count the fetch just
    # measured (r14, VERDICT r13 ask #6 + the streaming follow-up):
    #
    # - THIN (corpus scale, n_cand ≥ THIN_PREFILTER_MIN_CAND): the
    #   r13 plan joined BOTH payloads — sig (64 ints) AND shingles
    #   (~300 ints) — to every candidate row before the agreement
    #   filter, so ~5 KB of arrays per candidate flowed through the
    #   join chain and the pair-dedup exchange; profiled at sf1 as
    #   THE probe cost (prefilter+verify was 23 s of a 24 s
    #   steady-state probe, 378k candidates). The thin prefilter
    #   carries sigs alone and joins the shingle arrays back for
    #   SURVIVORS only (~10³ pairs): measured warm steady-state
    #   probe 10.0 → 3.1-4.0 s at sf1, row-equal (780 = 780). This
    #   is the convention the non-indexed minhash/incremental paths
    #   already follow. The batch side broadcasts when its estimated
    #   doc count fits the budget — map-side prefilter, no
    #   candidate×sig exchange at all.
    # - PAYLOAD (micro-batch scale, below the gate): the extra
    #   survivor join-back + second pair of broadcasts are FIXED
    #   per-call costs that dominate when candidates are few —
    #   measured on the streaming ingest probe (hundreds of docs per
    #   epoch, a probe_band_index call per epoch): the always-thin
    #   form regressed the epoch loop 6.95 → 11.1-11.9 s across two
    #   harness runs while corpus batches won 2.5-3×. Below the gate
    #   the r13 single-pass shape (payloads ride the prefilter join)
    #   is kept verbatim.
    #
    # Same row set either side (the gate only reorders when the
    # shingle columns attach); pinned by
    # test_probe_prefilter_regimes_row_equal.
    #
    # Unknown candidate count (a pre-metadata legacy index: sigs is a
    # FULL-corpus scan) keeps the single-pass payload shape (ADVICE
    # r14): the thin form would read that unpruned corpus sigs table
    # twice more (sig prefilter + shingle join-back) — exactly the
    # fixed-cost regime the 6.95 → 11.9 s micro-batch measurement
    # warns about, with no candidate bound to justify it.
    thin = n_cand is not None and n_cand >= THIN_PREFILTER_MIN_CAND
    if thin:
        sig_c = sigs.selectExpr("doc_id AS corpus_doc", "sig AS sig_c")
        sig_n = broadcast_if_small(
            probe_sh.selectExpr("doc_id AS new_doc", "sig AS sig_n"),
            n_batch_est,
        )
    else:
        sig_c = sigs.selectExpr(
            "doc_id AS corpus_doc", "sig AS sig_c", "sh AS sh_c"
        )
        sig_n = probe_sh.selectExpr(
            "doc_id AS new_doc", "sig AS sig_n", "sh AS sh_n"
        )
    surv = (
        sig_c.join(cand, "corpus_doc")
        .join(sig_n, "new_doc")
        .withColumn(
            "sig_agree",
            F.expr(
                "aggregate(zip_with(sig_c, sig_n,"
                " (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
                " 0, (acc, x) -> acc + x)"
            ),
        )
        .filter(F.col("sig_agree") >= MINHASH_PERMS // 2)
        # distinct AFTER the prefilter (multi-band collisions arrive
        # once per band) and BEFORE the exact verify, so the
        # |shingles|-wide intersect runs once per surviving pair.
        .select(
            "corpus_doc", "new_doc", *([] if thin else ["sh_c", "sh_n"])
        )
        .dropDuplicates(["corpus_doc", "new_doc"])
    )
    if thin:
        sh_c = sigs.selectExpr("doc_id AS corpus_doc", "sh AS sh_c")
        sh_n = broadcast_if_small(
            probe_sh.selectExpr("doc_id AS new_doc", "sh AS sh_n"),
            n_batch_est,
        )
        est = surv.join(sh_c, "corpus_doc").join(sh_n, "new_doc")
    else:
        est = surv
    return (
        est.selectExpr(
            "corpus_doc",
            "new_doc",
            "size(array_intersect(sh_c, sh_n)) AS inter",
            "sh_c",
            "sh_n",
        )
        .selectExpr(
            "corpus_doc",
            "new_doc",
            "inter",
            "(size(sh_c) + size(sh_n) - inter) AS uni",
        )
        .filter(f"CAST(inter AS DOUBLE) / uni >= {JACCARD_THRESHOLD}")
        .select(
            "corpus_doc",
            "new_doc",
            "inter",
            "uni",
            _int_round4("inter", "uni").alias("jac"),
        )
    )


def _index_slot(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic per-(process, sf_dir) index path under the
    staging root; built on first use, reused after (the write is the
    'corpus compaction' event — probes are the steady state)."""
    safe = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(staging_root(), f"band_index_{safe}")
    # Completeness (ADVICE r11 + r12): current builds write _meta.json
    # LAST with an explicit complete=true flag, so the flag alone
    # proves every table landed — robust to sessions where _SUCCESS
    # markers are disabled (marksuccessfuljobs=false) or stripped by
    # cleanup tooling, which under a _SUCCESS-only check would force a
    # full silent rebuild on every probe. LEGACY slots (pre-r13 meta
    # without the flag) keep the stricter r11 rule — _meta.json AND
    # sigs/_SUCCESS — because pre-r11 builds wrote meta BEFORE the
    # sigs/ table: such a build that crashed mid-sigs-write has the
    # meta marker and a torn sigs table, and a meta-only check would
    # serve it forever (probes silently missing every pair whose sig
    # rows are absent).
    meta_exists = os.path.exists(_meta_path(path))
    meta = index_meta(path) if meta_exists else {}
    complete = meta_exists and (
        meta.get("complete")
        or os.path.exists(os.path.join(path, "sigs", "_SUCCESS"))
    )
    # Staleness fingerprint (ADVICE r15 #3, band side): a persistent
    # staging root can outlive a regenerated fixture at the same
    # sf_dir; the corpus footer count is a zero-job check. Metas
    # from before the fingerprint (no n_docs key) keep the
    # completeness-only rule — their layout constants still hold.
    if complete and "n_docs" in meta:
        from mapreduceapp_spark.sources.parquet import table_row_count

        complete = meta["n_docs"] == table_row_count(
            spark, sf_dir, "documents"
        )
    if not (path.startswith(("hdfs://", "s3a://")) or complete):
        write_band_index(spark, sf_dir, path)
    return path


@register(
    "q_dedup_index_probe",
    # Same ground truth as q_incremental_dedup: the index is a
    # persisted re-layout of the identical capped band entries, the
    # probe the identical candidate→prefilter→verify chain, so the
    # emitted pair set is the same exact cross-split Jaccard set.
    oracle=None,  # set below — reuses q_incremental_dedup's SQL verbatim
    doc="Batch probe against the persisted bucket-partitioned band "
    "index — the corpus-scale ingest-dedup path (C2 family).",
)
def q_dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full persisted-index loop as a driver query: build (or
    reuse) the corpus split's band index, then probe the batch split
    against it. Equals ``q_incremental_dedup`` row-for-row — pinned
    by the shared oracle AND tests/test_dedup_index.py."""
    # slot(), not bare stage(): the (name, sf_dir) memo skips
    # CONSTRUCTING the shingle+signature producer plan on repeat
    # invocations (the r17 slot rationale — the other signature
    # consumers already use it)
    sh = slot(
        spark,
        "minhash_signatures",
        sf_dir,
        lambda: _doc_shingles_with_minhash(spark, sf_dir),
    )
    batch = sh.filter(
        f"doc_id % {INCR_BATCH_MOD} >= {INCR_BATCH_RESIDUE}"
    )
    return probe_band_index(spark, _index_slot(spark, sf_dir), batch)


# Reuse the incremental-dedup oracle verbatim (single source of truth
# for the cross-split exact-Jaccard ground truth).
def _adopt_incremental_oracle() -> None:
    import dataclasses

    from mapreduceapp_spark.plans.registry import _REGISTRY

    q = _REGISTRY["q_dedup_index_probe"]
    src = _REGISTRY["q_incremental_dedup"]
    # dataclasses.replace, not positional reconstruction: a future
    # field added to Query must not be silently reset here
    _REGISTRY["q_dedup_index_probe"] = dataclasses.replace(
        q, oracle=src.oracle
    )


_adopt_incremental_oracle()
