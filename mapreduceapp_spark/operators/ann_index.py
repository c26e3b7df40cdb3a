"""Persisted, cell-partitioned ANN index (IVF + OPQ + residual PQ).

The C3 family's production ingest shape: every in-plan ANN query
re-derives centroids, codebooks and codes per process, amortized only
by the in-process ``stage()`` memo — at corpus scale those artifacts
are what a deployment persists once per compaction and probes per
query batch. This module gives the ANN ladder's best measured
configuration — the OPQ+residual composition rung, 0.68/0.84
recall@10 vs 0.48/0.30 raw (q_opq_residual_recall_aniso) — the
build-once / pruned-probe lifecycle of the band and winnow indexes:

1. :func:`write_ann_index` — once per corpus compaction: stride-
   sampled IVF centroids, exact-int64 cell assignment, residual PQ
   codebook and codes, persisted as tiny ``centroids/`` and
   ``codebook/`` tables read whole at probe time, the ``codes/``
   table and its ``code_files/`` sidecar.
2. :func:`probe_ann_index` — per query batch: probe the ``nprobe``
   nearest cells per query, then scan only the probed cells' bytes:
   the touched cell-bucket directories, the sidecar's cluster ranges
   selecting exact files inside them, and (for bounded probe sets)
   the probed cell ids pushed into the parquet scan as a VALUES
   predicate.

The index sits on disk in the layout of
:mod:`~mapreduceapp_spark.operators.index_layout`: ``codes/`` holds
(vec_id, m, code, cluster) rows partitioned by
``cell_bucket = pmod(cluster, n_buckets)``, written one task per
bucket in cluster-sorted files of bounded row count; ``code_files/``
records each file's (cell_bucket, lo, hi) cluster range and its
segment, with paths relative to ``codes/``; ``_meta.json``
(``n_buckets``, ``source_rows`` = the build corpus's row count, the
codebook geometry) is written last. Cells number ~√N, so one
directory per cell would over-partition; inside a bucket the
cluster-sorted files and their ranges carry the pruning, so probed
bytes track probed cells, not bucket width.

The build and append derive cells, residuals, codebook and codes with
:func:`~mapreduceapp_spark.operators.similarity.adc_corpus`, and the
probe runs :func:`~mapreduceapp_spark.operators.similarity.adc_topk`
over the persisted tables. Everything persisted is exact int64, so
the probe is row-equal to the in-plan residual IVFADC search over the
same lineage, ties included, whatever process built the index (pinned
by tests/test_ann_index.py and the shared driver oracle).

Reference grounding: the reference has no persistence at all (one
in-memory job, ``MapReduceFramework.cpp:140``); this is the
similarity family's index-shaped sink, the analog of its phase-output
vectors made durable and prunable.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceapp_spark.functions.vectors import sq_norm_sql
from mapreduceapp_spark.operators.index_layout import (
    SIDECAR_MIN_FILES_PER_BUCKET,
    bucket_count,
    index_slot,
    list_files,
    meta_path,
    push_values,
    read_meta,
    scan_files,
    staged_counts,
    write_bucketed,
    write_file_ranges,
    write_meta,
    written_rows,
)
from mapreduceapp_spark.operators.similarity import (
    _ANISO_OPQ,
    ADC_IVFADC,
    IVF_NPROBE,
    KNN_K,
    KNN_QUERY_PRED,
    PQ_M,
    AdcCorpus,
    _ivf_stride,
    _ladder_oracle,
    _recall_vs,
    adc_corpus,
    adc_topk,
)
from mapreduceapp_spark.plans.registry import register
from mapreduceapp_spark.plans.staging import stage

# Rows per codes/ data file. codes are thin (vec_id, m, code ≈ 20
# bytes/row, PQ_M rows per vector) so the healthy 32-64 MB scan unit
# is a few million rows; tests and the scaling script pass smaller
# values to make file-grain skipping observable at fixture scale.
CODE_ROWS_PER_FILE = 2_097_152

# Bounded-literal cap for pushing the probed cell ids into the codes
# scan (the band index's DOC_PUSH_CAP class). Probe batches touch
# ≤ Q·nprobe distinct cells; above the cap the file/directory grain
# bounds the scan and the join supplies the row filter.
CELL_PUSH_CAP = 4096

# Driver-side bound for the probed-cell set, ≤ min(Q·nprobe, n_cells)
# with n_cells ≈ √N — modest at any rehearsal scale, but at 10¹¹
# vectors √N ≈ 316k ids exceeds the plan-literal class, so past this
# cap the probe keeps bucket pruning only (≤ n_buckets ≤ 65,536
# literals) and skips the file grid and the values push.
CELL_COLLECT_CAP = 65_536


def _mean_resid_sq(resid) -> float:
    """Mean squared residual norm of a (vec_id, qv) residual frame —
    the quantization-error scalar behind the compaction trigger. One
    small agg over the already-staged residual bytes. Unrounded: a
    well-quantized baseline below 5e-5 would round to 0.0 and disable
    the trigger."""
    row = resid.selectExpr(f"avg({sq_norm_sql('qv')}) AS m").collect()[0]
    return float(row["m"] or 0.0)


def ann_index_drift_ratio(index_path: str) -> float | None:
    """The compaction-trigger signal: the latest appended segment's
    mean squared residual norm over the build's — how much worse the
    frozen corpus centroids quantize the newest arrivals than they
    quantized the corpus. Measured (ann_append_drift_sf1_r16.json,
    SCALE.md): same-distribution appends sit at ~1.0 and cost ≤0.02
    recall even at 100% of corpus size; drifted batches that cost
    0.33-0.66 recall sit far above. None until the index has an
    appended segment."""
    state = ann_index_state(index_path)
    build = read_meta(index_path)["mean_resid_sq"]
    # state overlays meta, so a never-appended index echoes the build
    # value back — only an appended segment carries the signal
    if not build or len(state["segs"]) < 2:
        return None
    return round(state["mean_resid_sq"] / build, 4)


# ------------------------------------------------------------ tx log
#
# Appends commit with the TxLog format's discipline (sources/txlog.py
# — exclusive-create versioned manifests as the single serialization
# point) applied to the index directory:
#
# - the index has a ``_log/`` of numbered JSON manifests, the first
#   (the build segment) written by the build before its meta; a
#   manifest is committed iff its exclusive create succeeded and its
#   content parses (a torn write squats its slot number but is
#   skipped by readers).
# - every sidecar row carries a segment id and the latest committed
#   manifest lists the live ones. Probes at every pruning grain
#   resolve their file set from committed sidecar rows only, so files
#   and sidecar rows of an uncommitted append are invisible: a crash
#   anywhere before the manifest create serves the pre-append view,
#   and the orphaned bytes are reclaimed at the next compaction.
# - a retried append uses a fresh random segment id, so the crashed
#   attempt's orphan rows never become visible — duplicate code rows
#   would inflate every ADC sum they appear in.
#
# Appends assume a single writer per index (the contract shared with
# the band index); the commit loop tolerates races by re-resolving and
# retrying at the next slot.

_LOG_DIR = "_log"


def _manifest_file(index_path: str, version: int) -> str:
    return os.path.join(index_path, _LOG_DIR, f"{version:06d}.json")


def _log_slots(index_path: str) -> list[int]:
    log = os.path.join(index_path, _LOG_DIR)
    if not os.path.isdir(log):
        return []
    out = []
    for name in os.listdir(log):
        stem, dot, ext = name.partition(".")
        if ext == "json" and stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def ann_index_state(index_path: str) -> dict:
    """Layout meta overlaid with the latest committed ``_log``
    manifest; ``segs`` is the committed-segment list (the probe's
    visibility filter). Each manifest carries the full cumulative
    state, so the newest parseable one is enough; torn manifests are
    skipped, and with none parseable the state is the build segment's
    (committed before the meta was written)."""
    meta = read_meta(index_path)
    for v in reversed(_log_slots(index_path)):
        try:
            with open(_manifest_file(index_path, v)) as fh:
                meta.update(json.load(fh))
            return meta
        except (json.JSONDecodeError, OSError):
            continue
    meta.update(segs=["build"], appended_rows=0)
    return meta


def _commit_index_manifest(
    index_path: str,
    new_seg: str,
    seg_rows: int,
    seg_files: int,
    mean_resid_sq: float | None = None,
) -> int:
    """Atomically commit one appended segment: exclusive-create the
    next manifest slot with the cumulative committed state (the
    txlog ``_commit`` primitive). Lost races re-resolve and retry at
    the next free slot — appends only ever ADD, so there is no
    remove-overlap conflict class here."""
    os.makedirs(os.path.join(index_path, _LOG_DIR), exist_ok=True)
    while True:
        state = ann_index_state(index_path)
        version = (_log_slots(index_path) or [0])[-1] + 1
        manifest = {
            "log_version": version,
            "segs": state["segs"] + [new_seg],
            "appended_rows": int(state.get("appended_rows", 0)) + seg_rows,
            "n_code_files": int(state.get("n_code_files", 0)) + seg_files,
        }
        if mean_resid_sq is not None:
            manifest["mean_resid_sq"] = mean_resid_sq
        try:
            with open(_manifest_file(index_path, version), "x") as fh:
                json.dump(manifest, fh)
            return version
        except FileExistsError:
            continue


# Driver-read bound for the sidecar: below this many sidecar rows
# (= data files) the touched-bucket filter runs in-process over a
# pyarrow read instead of a Spark job that collects a handful of rows
# this process often just wrote. Above the bound (or on remote
# storage) the Spark scan remains the right tool.
SIDECAR_LOCAL_MAX_ROWS = 262_144


def _local_sidecar_rows(
    index_path: str, buckets: list[int], segs: list[str]
) -> list | None:
    """Driver-side pyarrow twin of the sidecar scan+collect — None
    (caller falls back to the Spark job) for remote roots, oversized
    sidecars, or any read failure."""
    path = os.path.join(index_path, "code_files")
    if "://" in path:
        return None
    import glob as _glob

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    try:
        if (
            sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            > SIDECAR_LOCAL_MAX_ROWS
        ):
            return None
        bset, sset = set(buckets), set(segs)
        return [
            row
            for f in files
            for row in pq.read_table(f).to_pylist()
            if row["cell_bucket"] in bset and row["seg"] in sset
        ]
    except Exception:
        return None


def _committed_sidecar_rows(
    spark: SparkSession, index_path: str, buckets: list[int], segs: list[str]
) -> list:
    """Sidecar rows for the touched buckets, restricted to committed
    segments — the visibility resolver for every pruning grain.
    Driver-bounded by files-in-touched-buckets, the same quantity any
    scan of those buckets reads. Local small sidecars resolve
    in-process (zero jobs — see :func:`_local_sidecar_rows`)."""
    local = _local_sidecar_rows(index_path, buckets, segs)
    if local is not None:
        return local
    return (
        spark.read.parquet(os.path.join(index_path, "code_files"))
        .filter(F.col("cell_bucket").isin(buckets))
        .filter(F.col("seg").isin(list(segs)))
        .collect()
    )


def _index_corpus(
    spark: SparkSession, index_path: str, meta: dict, codes=None
) -> AdcCorpus:
    """The persisted index as the corpus side of an IVFADC search:
    its centroids and codebook read whole, ``codes`` as the caller
    reads them."""
    return AdcCorpus(
        ADC_IVFADC,
        spark.read.parquet(os.path.join(index_path, "centroids")),
        spark.read.parquet(os.path.join(index_path, "codebook")),
        codes,
        meta["k_cent"],
        None,
    )


def _write_codes(
    index_path: str, codes: DataFrame, n_buckets: int, rows_per_file: int,
    mode: str,
) -> None:
    """Write (vec_id, m, code, cluster) rows under ``codes/`` in the
    index's bucket layout, cluster-sorted within files."""
    write_bucketed(
        codes, os.path.join(index_path, "codes"), "cluster", "cell_bucket",
        n_buckets, ("cluster", "vec_id", "m"), mode, rows_per_file,
    )


def _write_code_ranges(
    spark: SparkSession, index_path: str, seg: str, files=None
) -> int:
    """Record the cluster ranges of ``codes/`` files under segment
    ``seg`` in the ``code_files/`` sidecar (see write_file_ranges)."""
    return write_file_ranges(
        spark, index_path, "codes", "code_files", "cluster", "cell_bucket",
        files, seg,
    )


def write_ann_index(
    spark: SparkSession,
    e: DataFrame,
    n_rows: int,
    path: str,
    code_rows_per_file: int = CODE_ROWS_PER_FILE,
) -> str:
    """Build and persist the ANN index for lineage ``e`` (a
    (vec_id, qv, sq) frame — quantized, optionally OPQ-permuted) of
    ``n_rows`` vectors; returns ``path``.

    The derivation is :func:`adc_corpus` over the residual IVFADC
    spec, the same call the in-plan search makes, so the persisted
    tables are bit-identical to what the in-plan path derives:

    - ``centroids/`` — (cent_id, c_qv, c_sq), ~√N rows, one file.
    - ``codebook/`` — (m, j, cv), ≤ 256×8 rows, one file.
    - ``codes/`` — (vec_id, m, code, cluster). The cell id rides the
      table, so the pruned codes scan is the candidate set with no
      separate assignment lookup.
    - ``code_files/`` — each codes file's cluster range, segment
      "build".
    - ``_log/`` manifest 1 commits the build segment (a rebuild over
      an existing path starts a fresh log), then ``_meta.json``.
    """
    import shutil

    corpus = adc_corpus(e, n_rows, ADC_IVFADC)
    n_buckets = bucket_count(
        n_rows * PQ_M, spark.sparkContext.defaultParallelism
    )
    # the build corpus's quantization-error baseline for the
    # compaction trigger, measured off the already-staged residuals
    mean_resid_sq = _mean_resid_sq(corpus.src)
    (
        corpus.cents.coalesce(1)
        .sortWithinPartitions("cent_id")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "centroids"))
    )
    n_cells = written_rows(spark, os.path.join(path, "centroids"))
    corpus.book.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "codebook")
    )
    _write_codes(path, corpus.codes, n_buckets, code_rows_per_file, "overwrite")
    n_code_files = _write_code_ranges(spark, path, "build")
    log = os.path.join(path, _LOG_DIR)
    shutil.rmtree(log, ignore_errors=True)
    os.makedirs(log)
    with open(_manifest_file(path, 1), "x") as fh:
        json.dump(
            {
                "log_version": 1,
                "segs": ["build"],
                "appended_rows": 0,
                "n_code_files": n_code_files,
            },
            fh,
        )
    write_meta(
        path,
        n_buckets=n_buckets,
        source_rows=n_rows,
        stride=_ivf_stride(n_rows),
        k_cent=corpus.k_cent,
        pq_stride=max(1, n_rows // corpus.k_cent),
        pq_m=PQ_M,
        n_cells=n_cells,
        n_code_files=n_code_files,
        mean_resid_sq=mean_resid_sq,
    )
    return path


def append_ann_index(
    spark: SparkSession,
    index_path: str,
    e_new: DataFrame,
    n_new: int | None = None,
    code_rows_per_file: int = CODE_ROWS_PER_FILE,
) -> str:
    """Append a vector batch to an existing index without retraining:
    new vectors are assigned to the frozen centroids and encoded
    against the frozen codebook, and only thin code rows land on disk.
    Returns ``index_path``.

    Semantics: the appended rows are exactly what a full build over
    (corpus ∪ batch) would emit for the batch ids if its stride
    sampling had still picked the corpus's centroids and codebook (the
    standard IVF ingest contract; recall drifts only as the data
    distribution drifts, which the next compaction absorbs). Appends
    are segmentation-invariant (one batch ≡ any split of it).

    ``n_new`` sizes the assign/encode kernels' regime gates (pass the
    caller's footer-derived count; None = one bounded count job).

    Atomicity: codes files and segment-tagged sidecar rows land first
    but stay invisible to every pruning grain until the one
    exclusive-create manifest commits the segment (see the tx-log
    block above), so a crash anywhere mid-append serves the
    pre-append view and a retry can never resurrect the orphans."""
    import uuid

    state = ann_index_state(index_path)
    if n_new is None:
        n_new = e_new.count()
    corpus = adc_corpus(
        e_new, n_new, ADC_IVFADC, frozen=_index_corpus(spark, index_path, state)
    )
    before = list_files(spark, index_path, "codes")
    _write_codes(
        index_path, corpus.codes, state["n_buckets"], code_rows_per_file,
        "append",
    )
    seg = uuid.uuid4().hex
    n_files = _write_code_ranges(
        spark, index_path, seg, list_files(spark, index_path, "codes") - before
    )
    # the one serialization point: everything above is invisible to
    # probes until this create succeeds; the segment's quantization
    # error is the compaction-trigger signal
    _commit_index_manifest(
        index_path, seg, n_new, n_files, mean_resid_sq=_mean_resid_sq(corpus.src)
    )
    return index_path


def fetch_probed_codes(
    spark: SparkSession, index_path: str, cells: list[int]
) -> DataFrame:
    """Pruned scan of the index's ``codes/`` table for a probed-cell
    set: the committed files of the touched cell buckets, narrowed to
    the files whose cluster range holds a probed cell when the file
    grid is finer than the directory grid (SIDECAR_MIN_FILES_PER_BUCKET),
    with the cell ids pushed as a parquet VALUES predicate below
    either grid. ``cells`` is a plan-literal-bounded driver list (the
    caller enforces CELL_COLLECT_CAP); an empty list gives an empty
    scan with the full schema."""
    state = ann_index_state(index_path)
    n_buckets = state["n_buckets"]
    if not cells:
        return scan_files(spark, index_path, "codes", "cell_bucket", ())
    by_bucket: dict[int, list[int]] = {}
    for c in cells:
        by_bucket.setdefault(c % n_buckets, []).append(c)
    use_ranges = (
        state["n_code_files"] > SIDECAR_MIN_FILES_PER_BUCKET * n_buckets
    )
    rows = _committed_sidecar_rows(
        spark, index_path, sorted(by_bucket), state["segs"]
    )
    scan = scan_files(
        spark,
        index_path,
        "codes",
        "cell_bucket",
        (
            r["path"]
            for r in rows
            if not use_ranges
            or any(r["lo"] <= c <= r["hi"] for c in by_bucket[r["cell_bucket"]])
        ),
    )
    return push_values(scan, "cluster", cells) if len(cells) <= CELL_PUSH_CAP else scan


def probe_ann_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = KNN_K,
    nprobe: int = IVF_NPROBE,
    n_queries_bound: int | None = None,
    _stage=stage,
) -> DataFrame:
    """Probe a query batch (a (vec_id, qv, sq) frame on the same
    quantized/permuted lineage the index was built from) against a
    persisted ANN index; emit (query_id, neighbor_id, rnk, adc) —
    row-equal to the in-plan residual IVFADC search over the corpus
    lineage.

    The query side is :func:`adc_topk`, the in-plan search's own; the
    corpus side — assignment, codebook training, encoding — is
    replaced by three pruned reads: whole-file ``centroids/`` and
    ``codebook/``, and the probed cells' slice of ``codes/`` via
    :func:`fetch_probed_codes`. Probed bytes track probed cells.

    ``_stage`` swaps the multiply-consumed-intermediate strategy:
    batch probes keep the process-memoized stage() slots; the
    streaming runner passes a per-epoch persist-based stager (a
    stage() slot per micro-batch lineage would accumulate on the
    staging disk for the stream's whole life; see ann_search_stream).

    The probed-cell set (≤ min(Q·nprobe, n_cells) ints) is read from
    the staged probe table; past CELL_COLLECT_CAP cells the probe
    keeps bucket literals only."""
    meta = ann_index_state(index_path)

    def probed_codes(probes: DataFrame) -> DataFrame:
        if meta["n_cells"] <= CELL_COLLECT_CAP:
            cells = sorted(staged_counts(probes, "probe"))
            return fetch_probed_codes(spark, index_path, cells)
        # extreme geometry: bucket literals only, committed files only;
        # the ADC join still restricts rows exactly
        buckets = sorted(staged_counts(probes, "probe", meta["n_buckets"]))
        rows = _committed_sidecar_rows(spark, index_path, buckets, meta["segs"])
        return scan_files(
            spark, index_path, "codes", "cell_bucket", (r["path"] for r in rows)
        )

    return adc_topk(
        queries,
        _index_corpus(spark, index_path, meta, probed_codes),
        k,
        nprobe,
        n_queries_bound,
        _stage,
    )


# The measured trigger threshold (SCALE.md drift experiment,
# ann_append_drift_sf1_r16.json): same-distribution appends sit at
# drift_ratio 0.999-1.007 and cost ≤0.02 recall@10 even at 100% of
# corpus size; the drifted batches that cost 0.33-0.66 recall sit at
# 163.5. 2.0 is orders of magnitude inside the gap on both sides — a
# milder real drift scales the ratio and the recall loss down
# together (both are the same residual mass).
ANN_REBUILD_DRIFT_RATIO = 2.0


def maybe_recompact_ann_index(
    spark: SparkSession,
    index_path: str,
    e: DataFrame,
    n_rows: int,
    threshold: float = ANN_REBUILD_DRIFT_RATIO,
) -> bool:
    """Consume the compaction trigger: rebuild the index over ``e``
    (the current full corpus — corpus ∪ every appended batch; the
    index stores only lossy codes, so recompaction needs the source
    table) when the latest appended segment quantized ≥ ``threshold``×
    worse than the build corpus did. Returns True when a rebuild ran —
    the fresh build starts a new ``_log`` and a unit drift baseline.
    Never-appended indexes never trigger."""
    ratio = ann_index_drift_ratio(index_path)
    if ratio is None or ratio <= threshold:
        return False
    # Invalidate before the destructive rebuild: write_ann_index
    # overwrites codes/, the sidecar and _log in place, and the old
    # complete meta (with a fingerprint that may match the source)
    # would otherwise validate a half-overwritten index after a crash.
    # With meta and _log removed first, readers refuse the index and
    # the slot rebuilds it; the fresh build writes meta last again.
    import shutil

    try:
        os.remove(meta_path(index_path))
    except FileNotFoundError:
        pass
    shutil.rmtree(os.path.join(index_path, _LOG_DIR), ignore_errors=True)
    write_ann_index(spark, e, n_rows, index_path)
    return True


def write_fixture_ann_index(spark: SparkSession, sf_dir: str, path: str) -> str:
    """The registered query's index: built from the OPQ-permuted aniso
    lineage of ``sf_dir``'s embeddings (the ladder's best measured
    configuration)."""
    from mapreduceapp_spark.sources.parquet import table_row_count

    n_rows = table_row_count(spark, sf_dir, "embeddings")
    return write_ann_index(spark, _ANISO_OPQ.lineage(spark, sf_dir), n_rows, path)


@register(
    "q_ann_index_probe",
    # the index is a persisted re-layout of the composition rung's
    # derivation and the probe runs its ADC, so the recall frame and
    # its oracle are the same
    oracle=_ladder_oracle(_ANISO_OPQ, ADC_IVFADC),
    doc="Probe of the persisted cell-partitioned ANN index (IVF + "
    "OPQ + residual PQ — the ladder's best configuration) — the "
    "corpus-scale similarity ingest path (C3 family).",
)
def q_ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full persisted-index loop as a driver query: build (or
    reuse) the ANN index for the OPQ-permuted aniso lineage, probe
    the fixture's query set against it, and publish recall@k against
    the exact L2 slot. Equals ``q_opq_residual_recall_aniso``
    row-for-row — pinned by the shared oracle AND
    tests/test_ann_index.py's direct in-plan comparison."""
    from mapreduceapp_spark.sources.parquet import table_row_count

    n = table_row_count(spark, sf_dir, "embeddings")
    approx = probe_ann_index(
        spark,
        index_slot(spark, "ann_index", sf_dir, "embeddings", write_fixture_ann_index),
        _ANISO_OPQ.lineage(spark, sf_dir).filter(KNN_QUERY_PRED),
        n_queries_bound=n // 100 + 1,
    )
    return _recall_vs(_ANISO_OPQ.exact(spark, sf_dir), approx)
