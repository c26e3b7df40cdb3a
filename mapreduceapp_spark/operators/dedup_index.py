"""Persisted, bucket-partitioned MinHash band index + pruned probe.

The corpus-scale form of streaming ingest dedup:
``incremental_dedup_stream`` re-plans the corpus signature scan, cap
window included, on every micro-batch, which is prohibitive at corpus
scale. The production shape is:

1. :func:`write_band_index` — once per corpus compaction: explode the
   staged signature table into thin (band_key, doc_id) entries, apply
   the LSH bucket cap (the same
   :func:`~mapreduceapp_spark.operators.dedup._capped_band_entries`
   fold the batch queries use, so index contents equal the batch
   candidate generator's view), and persist them.
2. :func:`probe_band_index` — per batch: compute the batch's band keys
   with the shared hash family, derive the touched buckets, and scan
   only those bucket directories; band_key equality drives the join.

The index sits on disk in the layout of
:mod:`~mapreduceapp_spark.operators.index_layout`: each table is
partitioned by a pmod bucket of its key, written one task per bucket,
and ``_meta.json`` (``n_buckets``, ``source_rows`` = the documents
footer count, ``n_sig_files``) is written last. Tables under the
index root:

- ``bands/`` — (band_key, doc_id) by ``bucket = pmod(band_key, N)``,
  band_key-sorted within files (row-group pruning inside a bucket).
  No signature payload: a payload-carrying layout stores every
  signature 16 times (measured 16× the bytes, ~6× slower at sf0.1).
- ``sigs/`` — (doc_id, sig, sh), one row per document, by
  ``sig_bucket = pmod(doc_id, N)``, in doc_id-sorted files of at most
  ``sig_rows_per_file`` rows: the verification side the candidates
  join against.
- ``sig_files/`` — the (path, sig_bucket, lo, hi) doc-range sidecar,
  paths relative to ``sigs/``. With it the probe reads only files
  whose range holds a candidate, so sig bytes track candidates instead
  of min(n_cand, N)/N of the table (87% for a 1-doc probe at N=64).

Why ``pmod(band_key, N)`` and not band_key itself: band keys are 64-bit
hashes, and one directory per value is millions of tiny files.

Registered query ``q_dedup_index_probe`` runs the full loop — build
the index for the corpus split, probe the batch split — and produces
exactly ``q_incremental_dedup``'s rows (same oracle).

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
    CROSS_PAIR,
    INCREMENTAL_DEDUP_ORACLE,
    LSH_BANDS,
    LSH_BUCKET_CAP,
    _capped_band_entries,
    _jaccard_verify,
    _minhash_band_entries,
    _side,
    _sig_prefilter,
    batch_split,
    minhash_signatures,
)
from mapreduceapp_spark.operators.index_layout import (
    SIDECAR_MIN_FILES_PER_BUCKET,
    bucket_count,
    bucket_of,
    index_slot,
    list_files,
    push_values,
    read_meta,
    scan_files,
    staged_counts,
    write_bucketed,
    write_file_ranges,
    write_meta,
)
from mapreduceapp_spark.plans.hints import broadcast_if_small
from mapreduceapp_spark.plans.registry import register
from mapreduceapp_spark.plans.staging import stage

# Rows per sigs/ data file: the point-skipping grid below the bucket
# directory. ~16k rows × ~2-4 KB/row (sig + shingle arrays) ≈ 32-64 MB
# files, the healthy scan unit; tests and the scaling script pass
# smaller values to make the skipping observable at fixture scale.
SIG_ROWS_PER_FILE = 16_384


def _write_tables(
    path: str,
    entries: DataFrame,
    sh: DataFrame,
    n_buckets: int,
    mode: str,
    sig_rows_per_file: int,
) -> None:
    """Write thin (doc_id, band_key) entries under ``bands/`` and
    signature rows under ``sigs/`` (once per doc) in the index's
    bucket layout."""
    write_bucketed(
        entries, os.path.join(path, "bands"), "band_key", "bucket",
        n_buckets, ("band_key",), mode,
    )
    write_bucketed(
        sh.select("doc_id", "sig", "sh"), os.path.join(path, "sigs"),
        "doc_id", "sig_bucket", n_buckets, ("sig_bucket", "doc_id"), mode,
        sig_rows_per_file,
    )


def _write_sig_ranges(spark: SparkSession, path: str, files=None) -> int:
    return write_file_ranges(
        spark, path, "sigs", "sig_files", "doc_id", "sig_bucket", files
    )


def write_band_index(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    corpus_only: bool = True,
    sig_rows_per_file: int = SIG_ROWS_PER_FILE,
) -> str:
    """Build and persist the corpus band index (``bands/``, ``sigs/``,
    ``sig_files/``, then ``_meta.json``); returns ``path``. The bucket
    cap is applied at build time: an over-cap band carries no usable
    signal and would otherwise be re-filtered by every probe."""
    from mapreduceapp_spark.sources.parquet import table_row_count

    n_docs = table_row_count(spark, sf_dir, "documents")
    n_buckets = bucket_count(
        n_docs * LSH_BANDS, spark.sparkContext.defaultParallelism
    )
    sh = minhash_signatures(spark, sf_dir)
    if corpus_only:
        sh = batch_split(sh, new=False)
    entries = _capped_band_entries(
        _minhash_band_entries(sh), ["band_key"], LSH_BUCKET_CAP
    )
    _write_tables(path, entries, sh, n_buckets, "overwrite", sig_rows_per_file)
    n_sig_files = _write_sig_ranges(spark, path)
    write_meta(
        path, n_buckets=n_buckets, source_rows=n_docs, n_sig_files=n_sig_files
    )
    return path


def _pending_path(index_path: str) -> str:
    return os.path.join(index_path, "_pending.json")


def heal_band_index(spark: SparkSession, index_path: str) -> bool:
    """Crash recovery for a torn append: :func:`append_band_index`
    creates a ``_pending`` marker before its first data write and
    removes it after the meta rewrite, so a leftover marker means data
    files may exist that the sidecar and meta do not cover. The heal
    regenerates the full sidecar and meta from what is on disk
    (idempotent) and clears the marker. Returns True when a heal ran;
    costs one stat otherwise."""
    if not os.path.exists(_pending_path(index_path)):
        return False
    meta = read_meta(index_path)
    meta["n_sig_files"] = _write_sig_ranges(spark, index_path)
    # the torn append's segment bump may be missing: uncapped rows may
    # be on disk, and the probe's cap window must see them
    meta["appended_segments"] = meta.get("appended_segments", 0) + 1
    write_meta(index_path, **meta)
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
    output, so the hash family and band keys are frozen by
    construction) to an existing band index without a corpus
    recompaction. Returns ``index_path``. With probe-then-append per
    micro-batch (streaming/probe.py ``indexed_ingest_dedup``), batch
    N's docs are live candidates for batch N+1.

    Appended band entries are deliberately uncapped: every appended
    row depends only on the doc plus the frozen layout, so appends are
    segmentation-invariant (one batch ≡ any split of it). The probe
    re-applies the cap over its pruned band scan whenever meta records
    appended segments (a band's rows share one bucket, so the window
    count is the true global count). The one divergence from a full
    rebuild: a band already over cap at build time is absent from the
    persisted entries, so its appended rows survive the probe cap —
    strictly more candidates, each still exact-Jaccard-verified, until
    the next compaction.

    Rows land in the frozen bucket directories; new sigs files' doc
    ranges may overlap existing ones, which the probe tolerates (an
    overlap reads one extra file and inflates ``n_cand``, making the
    broadcast and push gates more conservative, never wrong). The
    sidecar grows by the new files only.

    Crash window: data files land before the sidecar and meta rewrite.
    A ``_pending`` marker brackets the append, and
    :func:`heal_band_index` (run by every probe and at the start of
    every append) regenerates sidecar and meta from disk if it finds
    one. One writer per index (SCALE.md): a live concurrent writer's
    marker is indistinguishable from a crashed one's."""
    meta = read_meta(index_path)
    if heal_band_index(spark, index_path):
        meta = read_meta(index_path)
    with open(_pending_path(index_path), "x") as fh:
        json.dump({"op": "append"}, fh)
    # any raise below leaves the marker in place for the next heal
    before = list_files(spark, index_path, "sigs")
    _write_tables(
        index_path, _minhash_band_entries(new_sh), new_sh, meta["n_buckets"],
        "append", sig_rows_per_file,
    )
    new_files = list_files(spark, index_path, "sigs") - before
    meta["n_sig_files"] += _write_sig_ranges(spark, index_path, new_files)
    meta["appended_segments"] = meta.get("appended_segments", 0) + 1
    write_meta(index_path, **meta)
    os.remove(_pending_path(index_path))
    return index_path


def _probe_pruning_stats(probe_bands: DataFrame) -> tuple[list[int], int]:
    """The batch's touched buckets plus an approximate batch doc count,
    in one bounded job: pruning literals for the band scan and the
    doc estimate for the sig_n broadcast gate. The estimate is
    inflated by 10% (~2σ of approx_count_distinct's default 5% rsd),
    so it never under-sizes a broadcast; it never affects semantics.
    Module-level so the scaling harness can patch it for its no-prune
    control."""
    row = probe_bands.agg(
        F.collect_set("bucket").alias("bs"),
        F.approx_count_distinct("new_doc").alias("nd"),
    ).collect()[0]
    return sorted(row["bs"]), int(row["nd"] * 1.1) + 1


# Bounded-literal cap for pushing the candidate doc ids into the sigs
# scan (page-grain skipping below the file grid: files are
# doc_id-sorted, so column statistics are tight). Above the cap the
# IN-list would bloat the plan; the file/directory grain bounds the
# scan there.
DOC_PUSH_CAP = 4096

# Candidate-count gate between the probe's two prefilter shapes (see
# probe_band_index): at or above it the thin-sig prefilter + survivor
# join-back wins (measured 2.5-3× at sf1's 378k candidates); below it
# the extra join-back and broadcasts are fixed costs that dominate
# micro-batch probes (the streaming epoch loop regressed 6.95 →
# 11.1-11.9 s always-thin).
THIN_PREFILTER_MIN_CAND = 32_768


def _push_doc_filter(sigs: DataFrame, cand: DataFrame, n_cand: int) -> DataFrame:
    """Push the candidate doc ids into the sigs scan when there are at
    most DOC_PUSH_CAP candidate rows. Semantics-preserving: every
    consumer joins sigs back to the candidate set."""
    if not 0 < n_cand <= DOC_PUSH_CAP:
        return sigs
    return push_values(sigs, "doc_id", sorted(staged_counts(cand, "corpus_doc")))


def fetch_candidate_sigs(
    spark: SparkSession, index_path: str, cand: DataFrame
) -> tuple[DataFrame, int]:
    """Pruned scan of the index's ``sigs/`` table for a staged
    candidate set (a frame with a ``corpus_doc`` column): returns
    (sigs scan, candidate row count).

    File grain (the file grid is finer than the directory grid, see
    SIDECAR_MIN_FILES_PER_BUCKET): the candidates join the broadcast
    sidecar on bucket equality with the range containment as a
    residual condition, so the match is hash-join linear, never
    candidates × files; one bounded job yields both the exact file
    list and the candidate count.

    Directory grain: per-bucket candidate counts give the
    ``sig_bucket`` partition literals and the count. Without the
    broadcast the caller applies with that count, Spark sort-merges
    and shuffles the corpus signature arrays (measured 30 s vs 2 s on
    a 64×-inflated sf0.1 index).

    Both grains push the candidate ids into the parquet scan when the
    set is small (:func:`_push_doc_filter`)."""
    meta = read_meta(index_path)
    n_buckets = meta["n_buckets"]
    n_files = meta["n_sig_files"]
    if n_files > SIDECAR_MIN_FILES_PER_BUCKET * n_buckets:
        stats = broadcast_if_small(
            spark.read.parquet(os.path.join(index_path, "sig_files")), n_files
        )
        cand_b = cand.withColumn("b", bucket_of("corpus_doc", n_buckets))
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
        sigs = scan_files(
            spark, index_path, "sigs", "sig_bucket",
            (r["path"] for r in per_file if r["path"] is not None),
        )
        return _push_doc_filter(sigs, cand, n_cand), n_cand
    per_bucket = staged_counts(cand, "corpus_doc", n_buckets)
    n_cand = sum(per_bucket.values())
    sigs = spark.read.parquet(os.path.join(index_path, "sigs"))
    sigs = (
        sigs.filter(F.col("sig_bucket").isin(sorted(per_bucket)))
        if per_bucket
        else sigs.filter(F.lit(False))
    ).drop("sig_bucket")
    return _push_doc_filter(sigs, cand, n_cand), n_cand


def probe_band_index(
    spark: SparkSession, index_path: str, probe_sh: DataFrame
) -> DataFrame:
    """Probe signature rows (doc_id, sig, sh) against a persisted band
    index; emit exact-verified (corpus_doc, new_doc, inter, uni, jac)
    pairs — dedup.py's shared chain (band join → signature-agreement
    prefilter → distinct → exact Jaccard verify) as the batch and
    streaming twins compose it, with the corpus side read through
    pruning instead of re-derived.

    The band join is key-only; the arrays join in afterwards by doc
    key. Both index scans are pruned with plan-time literals: the band
    scan by the batch's bucket set, the sigs scan by
    :func:`fetch_candidate_sigs`. Candidate volume is bounded by the
    build-time bucket cap."""
    heal_band_index(spark, index_path)  # steady-state cost: one stat
    meta = read_meta(index_path)
    probe_bands = _minhash_band_entries(probe_sh).select(
        F.col("doc_id").alias("new_doc"),
        "band_key",
        bucket_of("band_key", meta["n_buckets"]).alias("bucket"),
    )
    buckets, n_batch_est = _probe_pruning_stats(probe_bands)
    idx = spark.read.parquet(os.path.join(index_path, "bands")).filter(
        F.col("bucket").isin(buckets)
    )
    if meta.get("appended_segments"):
        # appended entries are uncapped (see append_band_index); the
        # build-time over-cap drop is restored over the pruned scan,
        # which holds whole bands (a band's rows share one bucket).
        # Gated so never-appended indexes keep their plan.
        idx = _capped_band_entries(idx, ["band_key"], LSH_BUCKET_CAP)
    idx = idx.select(F.col("doc_id").alias("corpus_doc"), "band_key")
    # staged (≤ batch_bands × bucket cap thin rows), so the probe
    # expansion + pruned band join runs once: the candidate reads
    # below and the returned plan both read the staged bytes
    cand = stage(
        probe_bands.drop("bucket")
        .join(idx, "band_key")
        .select("new_doc", "corpus_doc"),
        "probe_cand",
    )
    sigs, n_cand = fetch_candidate_sigs(spark, index_path, cand)
    cand = broadcast_if_small(cand, n_cand)
    # Two prefilter regimes behind the candidate count:
    #
    # - THIN (n_cand ≥ THIN_PREFILTER_MIN_CAND): carry sigs alone
    #   through the prefilter and join the shingle arrays back for
    #   survivors only. Joining both payloads to every candidate row
    #   moved ~5 KB of arrays per candidate through the join chain;
    #   measured warm probe 10.0 → 3.1-4.0 s at sf1, row-equal. The
    #   batch side broadcasts when its estimated doc count fits.
    # - PAYLOAD (below the gate): the survivor join-back and second
    #   pair of broadcasts are fixed per-call costs that dominate when
    #   candidates are few (streaming micro-batches), so the payloads
    #   ride the prefilter join in one pass.
    #
    # Same row set either side; pinned by
    # test_probe_prefilter_regimes_row_equal.
    thin = n_cand >= THIN_PREFILTER_MIN_CAND
    payload = () if thin else ("sh",)
    sig_c = _side(sigs, CROSS_PAIR, True, "sig", *payload)
    sig_n = _side(probe_sh, CROSS_PAIR, False, "sig", *payload)
    if thin:
        sig_n = broadcast_if_small(sig_n, n_batch_est)
    surv = (
        _sig_prefilter(
            sig_c.join(cand, "corpus_doc").join(sig_n, "new_doc"), CROSS_PAIR
        )
        # distinct AFTER the prefilter (multi-band collisions arrive
        # once per band) and BEFORE the exact verify, so the
        # |shingles|-wide intersect runs once per surviving pair.
        .select("corpus_doc", "new_doc", *([] if thin else ["sh_c", "sh_n"]))
        .dropDuplicates(["corpus_doc", "new_doc"])
    )
    if thin:
        sh_n = _side(probe_sh, CROSS_PAIR, False, "sh")
        surv = surv.join(_side(sigs, CROSS_PAIR, True, "sh"), "corpus_doc").join(
            broadcast_if_small(sh_n, n_batch_est), "new_doc"
        )
    return _jaccard_verify(surv, CROSS_PAIR)


@register(
    "q_dedup_index_probe",
    # the index is a persisted re-layout of the identical capped band
    # entries and the probe the identical candidate→prefilter→verify
    # chain, so the ground truth is q_incremental_dedup's
    oracle=INCREMENTAL_DEDUP_ORACLE,
    doc="Batch probe against the persisted bucket-partitioned band "
    "index — the corpus-scale ingest-dedup path (C2 family).",
)
def q_dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full persisted-index loop as a driver query: build (or
    reuse) the corpus split's band index, then probe the batch split
    against it. Equals ``q_incremental_dedup`` row-for-row — pinned
    by the shared oracle AND tests/test_dedup_index.py."""
    batch = batch_split(minhash_signatures(spark, sf_dir), new=True)
    path = index_slot(spark, "band_index", sf_dir, "documents", write_band_index)
    return probe_band_index(spark, path, batch)
