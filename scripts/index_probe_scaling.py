"""Band-index probe cost vs candidates — the winning regime measured
(VERDICT r9 'Missing' #2 / ask #4; r10 'Next round' #1/#2).

At sf0.1 the registered q_dedup_index_probe probes the FULL batch
split, whose bands touch every bucket — that number pays the
persisted read without collecting the pruning benefit (the honest
NOTES_r09 caveat), and the whole index is <4 MB, so fixed job
overhead swamps any byte effect. This script measures the regime the
index exists for — small probe, LARGE corpus index — by inflating
the persisted index REPL× (band keys salted per replica so bucket
occupancy stays uniform and the build-time cap is not re-triggered;
signature payloads duplicated under shifted doc ids, re-chunked into
doc_id-sorted SIG_FILE_ROWS-row files with a regenerated sig_files/
stats sidecar), then timing:

- file-pruned probes of 1/4/16 docs (bands partition-filtered by the
  batch's bucket set, sigs narrowed to exactly the files whose doc
  range holds a candidate — the r11 point-skipping rung), vs
- the same 1-doc probe with directory pruning ONLY (the r10 floor:
  sig bytes = min(n_cand, B)/B of the corpus), vs
- the same 1-doc probe with band pruning DISABLED (the band scan
  reads every bucket; sigs keep directory pruning) — the cost every
  probe would pay without the partitioned band layout.

Wall-clock trustworthiness (r10 'Next round' #2): every point runs
behind bench.py's contamination sentinel (absolute-calibrated
single-core probe + full-width 32-partition canary, wait-and-reprobe
on a hot slot), so the artifact self-certifies whether its walls were
taken in a calm window instead of leaning on a loadavg guess.

Usage: ``python scripts/index_probe_scaling.py [sf_dir]``
Writes ``index_probe_scaling_r{N}.json`` next to bench.py.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from urllib.parse import urlparse

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPS = 5        # wall = min of REPS — steal windows on this host come
                # and go in bursts (NOTES_r09), so more reps give the
                # min a better chance of landing in a calm gap
REPL = 64       # index inflation factor
DOC_SHIFT = 10_000_000_000
SIG_FILE_ROWS = 128  # inflated-sigs chunk size: small enough that a
                     # bucket holds many chunks at sf0.1×64, so the
                     # file grid is visibly finer than the dir grid.
                     # r12: 512 → 128 (VERDICT r11 ask #5) — the r11
                     # fetch curve saturated at its 512-file grid
                     # (the 4096-candidate point read 99% of bytes);
                     # a 4× finer grid shows the curve holding past
                     # that depth (4096 uniform candidates now touch
                     # ~1−e^-2 ≈ 86% of files, not all of them)


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import bench
    from mapreduceapp_spark.operators import dedup_index as DI
    from mapreduceapp_spark.operators import index_layout as L
    from mapreduceapp_spark.operators.dedup import (
        _minhash_band_entries,
        batch_split,
        minhash_signatures,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="probe_scaling_")
    base_idx = os.path.join(tmp, "band_index")
    t0 = time.monotonic()
    DI.write_band_index(spark, sf_dir, base_idx)
    build_s = time.monotonic() - t0
    base_meta = L.read_meta(base_idx)
    n_buckets = base_meta["n_buckets"]

    # ---- inflate the index REPL× with salted replicas --------------
    big_idx = os.path.join(tmp, "band_index_big")
    reps = spark.range(REPL).withColumnRenamed("id", "rep")
    bands = spark.read.parquet(os.path.join(base_idx, "bands"))
    big_bands = (
        bands.crossJoin(reps)
        .withColumn("band_key", F.col("band_key") + F.col("rep") * F.lit(7919))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(DOC_SHIFT))
        .withColumn(
            "bucket", F.pmod(F.col("band_key"), F.lit(n_buckets)).cast("int")
        )
        .drop("rep")
    )
    (
        big_bands.repartition(n_buckets, "bucket")
        .sortWithinPartitions("band_key")
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(os.path.join(big_idx, "bands"))
    )
    sigs = spark.read.parquet(os.path.join(base_idx, "sigs"))
    big_sigs = (
        sigs.crossJoin(reps)
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(DOC_SHIFT))
        .withColumn(
            "sig_bucket", F.pmod(F.col("doc_id"), F.lit(n_buckets)).cast("int")
        )
        .drop("rep")
    )
    (
        big_sigs.repartition(n_buckets, "sig_bucket")
        .sortWithinPartitions("sig_bucket", "doc_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", SIG_FILE_ROWS)
        .partitionBy("sig_bucket")
        .parquet(os.path.join(big_idx, "sigs"))
    )
    n_sig_files = L.write_file_ranges(
        spark, big_idx, "sigs", "sig_files", "doc_id", "sig_bucket"
    )

    def _write_meta(n_files: int) -> None:
        # n_sig_files routes the sigs fetch: 0 forces directory
        # pruning (fetch_candidate_sigs' file-count regime gate)
        L.write_meta(
            big_idx,
            n_buckets=n_buckets,
            source_rows=base_meta["source_rows"] * REPL,
            n_sig_files=n_files,
        )

    _write_meta(n_sig_files)
    big_bands_bytes = _tree_bytes(os.path.join(big_idx, "bands"))
    big_sigs_bytes = _tree_bytes(os.path.join(big_idx, "sigs"))

    sh = minhash_signatures(spark, sf_dir)
    new_batch = batch_split(sh, new=True)

    def bucket_bytes(sub: str, prefix: str, ids) -> int:
        total = 0
        for b in ids:
            for f in glob.glob(
                os.path.join(big_idx, sub, f"{prefix}={b}", "*")
            ):
                total += os.path.getsize(f)
        return total

    def measure(probe_sh, label: str, file_grain: bool = True) -> dict:
        """Sentinel-guarded wall + the DETERMINISTIC quantities:
        bytes in the touched band directories and bytes in the
        matched sig files (read off the probe plan's own input-file
        list). The behavioral tests prove unmatched files are never
        read, so matched-bytes IS the probe's sigs IO."""
        bands = _minhash_band_entries(probe_sh).withColumn(
            "bucket", L.bucket_of("band_key", n_buckets)
        )
        # the probe's own pruning literals (patched by the no-prune
        # control below)
        touched = DI._probe_pruning_stats(
            bands.withColumnRenamed("doc_id", "new_doc")
        )[0]
        probe_s, canary_s, hot = bench._probe_slot(spark, label)
        walls, n_pairs = [], 0
        plan = None
        for _ in range(REPS):
            t0 = time.monotonic()
            plan = DI.probe_band_index(spark, big_idx, probe_sh)
            n_pairs = plan.count()
            walls.append(time.monotonic() - t0)
        # inputFiles() is pre-partition-pruning, so it only equals the
        # bytes actually read on the file-grain path (explicit file
        # list); for the dir/no-prune controls the file metrics are
        # not meaningful and are recorded as None
        sig_files = [
            urlparse(f).path for f in plan.inputFiles() if "/sigs/" in f
        ] if file_grain else None
        # candidate volume: distinct corpus docs the band join emits
        idx_thin = (
            spark.read.parquet(os.path.join(big_idx, "bands"))
            .filter(F.col("bucket").isin(touched))
            .select(F.col("doc_id").alias("corpus_doc"), "band_key")
        )
        cand = bands.drop("bucket").join(idx_thin, "band_key")
        n_cand_docs = cand.select("corpus_doc").distinct().count()
        sig_touched = [
            r["b"]
            for r in cand.select(
                F.pmod(F.col("corpus_doc"), F.lit(n_buckets))
                .cast("int").alias("b")
            ).distinct().collect()
        ]
        bb = bucket_bytes("bands", "bucket", touched)
        sb_dir = bucket_bytes("sigs", "sig_bucket", sig_touched)
        sb_files = (
            sum(os.path.getsize(f) for f in sig_files)
            if sig_files is not None
            else None
        )
        point = {
            "label": label,
            "touched_band_buckets": len(touched),
            "touched_sig_buckets": len(sig_touched),
            "cand_docs": n_cand_docs,
            "matched_sig_files": (
                len(sig_files) if sig_files is not None else None
            ),
            "band_bytes_fraction": round(bb / max(big_bands_bytes, 1), 4),
            "sig_dir_bytes_fraction": round(sb_dir / max(big_sigs_bytes, 1), 4),
            "sig_file_bytes_fraction": (
                round(sb_files / max(big_sigs_bytes, 1), 6)
                if sb_files is not None
                else None
            ),
            "sig_file_bytes": sb_files,
            "pairs": n_pairs,
            "wall_s": round(min(walls), 3),
            "walls": [round(w, 3) for w in walls],
            "cpu_probe_s": probe_s,
            "canary_s": canary_s,
            "slot_contended": hot,
            "loadavg_after": round(os.getloadavg()[0], 2),
        }
        print(json.dumps(point))
        return point

    points = []
    staged_batches = {}
    for n_docs in (1, 4, 16):
        bpath = os.path.join(tmp, f"batch_{n_docs}")
        new_batch.orderBy("doc_id").limit(n_docs).write.mode(
            "overwrite"
        ).parquet(bpath)
        staged_batches[n_docs] = spark.read.parquet(bpath)
        points.append(measure(staged_batches[n_docs], f"pruned_{n_docs}doc"))

    # ---- dir-prune control: 1-doc probe, directory pruning only ----
    _write_meta(0)
    points.append(measure(staged_batches[1], "dirprune_1doc", file_grain=False))

    # ---- no-prune control: same 1-doc probe, band scan unpruned -----
    # probe_band_index reads its band pruning literals through
    # _probe_pruning_stats (one job also carrying the sig_n
    # broadcast-gate estimate), so patching it alone turns band
    # pruning off. The estimate is computed by the real agg; only the
    # bucket list is overridden. The sigs side keeps directory
    # pruning: the index has no full-scan reader.
    real_stats = DI._probe_pruning_stats
    try:
        DI._probe_pruning_stats = lambda pb: (
            list(range(n_buckets)),
            real_stats(pb)[1],
        )
        points.append(
            measure(staged_batches[1], "noprune_1doc", file_grain=False)
        )
    finally:
        DI._probe_pruning_stats = real_stats
        _write_meta(n_sig_files)

    # ---- planted-candidate point-fetch curve ------------------------
    # The probe points above inherit the inflation's locality: salted
    # band keys collide only within rep 0, so every candidate lands in
    # the first chunk of its bucket and the matched-file count
    # saturates instead of growing. This section measures the sig
    # fetch PRIMITIVE directly — candidate sets of 1..4096 docs drawn
    # uniformly (deterministic xxhash order) across the WHOLE inflated
    # doc space — which is the regime a real probe sees (dup partners
    # live anywhere in the corpus). Expected: matched files ≈
    # min(n_cand, n_sig_files), bytes ∝ candidates until the grid
    # saturates — the 'sig bytes ∝ candidate count' deliverable.
    fetch_points = []
    big_sig_scan = spark.read.parquet(os.path.join(big_idx, "sigs"))
    for n_c in (1, 16, 64, 256, 1024, 4096):
        ids = [
            r["doc_id"]
            for r in big_sig_scan.select("doc_id")
            .orderBy(F.pmod(F.xxhash64("doc_id"), F.lit(1_000_003)), "doc_id")
            .limit(n_c)
            .collect()
        ]
        cand_df = spark.createDataFrame(
            [(i, 0) for i in ids], "corpus_doc long, new_doc long"
        )
        probe_s, canary_s, hot = bench._probe_slot(spark, f"fetch_{n_c}")
        walls = []
        for _ in range(REPS):
            t0 = time.monotonic()
            sigs_scan, n_cand = DI.fetch_candidate_sigs(
                spark, big_idx, cand_df
            )
            # force the heavy column through the reader: count() alone
            # would be served from parquet metadata
            sigs_scan.agg(F.sum(F.size("sh"))).collect()
            walls.append(time.monotonic() - t0)
        files = [urlparse(f).path for f in sigs_scan.inputFiles()]
        fb = sum(os.path.getsize(f) for f in files)
        pt = {
            "n_cand": n_c,
            # r12: candidate ids ≤ DOC_PUSH_CAP also ride the scan as
            # a pushed parquet predicate (page-grain skipping INSIDE
            # matched files) — byte metrics below are file-grain and
            # therefore an UPPER bound on decoded bytes when true
            "doc_push": n_c <= DI.DOC_PUSH_CAP,
            "matched_sig_files": len(files),
            "sig_file_bytes": fb,
            "sig_file_bytes_fraction": round(fb / max(big_sigs_bytes, 1), 6),
            "wall_s": round(min(walls), 3),
            "walls": [round(w, 3) for w in walls],
            "cpu_probe_s": probe_s,
            "canary_s": canary_s,
            "slot_contended": hot,
        }
        print(json.dumps(pt))
        fetch_points.append(pt)

    # ---- row-group-grain evidence for the pushed doc-id predicate --
    # (VERDICT r12 ask #8; SCALE.md called file-grain bytes an "upper
    # bound only" on decoded bytes.) The fetch curve above cannot see
    # below the file grid: its 128-row files hold ONE row group each,
    # so row-group skipping ≡ file skipping there. This section
    # rebuilds the inflated sigs on a 1,024-row file grid (the
    # coarsest grid whose files-per-bucket ratio still engages the
    # sidecar at this corpus size, so the matched-file set is the
    # explicit list — the production 16,384-row grid would leave one
    # file per bucket here and route to directory pruning, where
    # inputFiles() is pre-pruning) with a small parquet.block.size so
    # each file holds MANY row groups, fixes ONE candidate set, and
    # isolates the inside-the-matched-files win two ways:
    # - decoded_rows via the executed plan's own scan metrics
    #   (numOutputRows on the parquet leaves — rows the reader
    #   actually materialized after stats-based skipping), measured
    #   WITH the pushed predicate and with DOC_PUSH_CAP monkeypatched
    #   to 0 (same matched files, no push);
    # - a deterministic pyarrow twin: bytes/rows of row groups whose
    #   doc_id [min,max] stats admit a candidate — the same decision
    #   procedure Spark's reader runs, computed from the footers.
    def _scan_decoded_rows(df) -> int | None:
        """Sum numOutputRows over the executed plan's parquet scan
        leaves — the rows the vectorized reader actually materialized
        after row-group/page stats skipping (record-level filtering
        is off by default, so surviving-but-non-matching rows COUNT,
        which is the point). Callers run with AQE disabled so the
        leaves are real FileSourceScanExec nodes, not query-stage
        wrappers. None if the py4j walk ever stops matching Spark
        internals — callers record the pyarrow twin either way."""
        try:
            ep = df._jdf.queryExecution().executedPlan()
            if ep.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                ep = ep.executedPlan()
            leaves = ep.collectLeaves()
            total = 0
            found = False
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if "FileSourceScan" not in leaf.getClass().getSimpleName():
                    continue
                it = leaf.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == "numOutputRows":
                        total += kv._2().value()
                        found = True
            return total if found else None
        except Exception:
            return None

    COARSE_FILE_ROWS = 1024
    coarse_idx = os.path.join(tmp, "band_index_coarse")
    (
        big_sigs.repartition(n_buckets, "sig_bucket")
        .sortWithinPartitions("sig_bucket", "doc_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", COARSE_FILE_ROWS)
        # floor-small block target: the writer's row-count check
        # interval (~100 rows) becomes the effective group size, so a
        # 1,024-row file carries ~10 row groups (65536 gave ~650-row
        # groups — the size check fires too late for ~500 B rows)
        .option("parquet.block.size", 4096)
        .partitionBy("sig_bucket")
        .parquet(os.path.join(coarse_idx, "sigs"))
    )
    n_coarse_files = L.write_file_ranges(
        spark, coarse_idx, "sigs", "sig_files", "doc_id", "sig_bucket"
    )
    L.write_meta(
        coarse_idx,
        n_buckets=n_buckets,
        source_rows=base_meta["source_rows"] * REPL,
        n_sig_files=n_coarse_files,
    )
    import pyarrow.parquet as pq

    # Two candidate regimes: n_cand=4 is the UNSATURATED one (each
    # ~100-row group here spans ~3% of the inflated doc space — the
    # replica shifts dominate group ranges — so 64 uniform candidates
    # admit most groups and the grain effect saturates; at 4 the
    # skipping is visible). Production tables have dense ids, so
    # group spans shrink with corpus size and the 4-candidate regime
    # is the representative one.
    docpush = {"sig_rows_per_file": COARSE_FILE_ROWS, "points": []}
    real_cap = DI.DOC_PUSH_CAP
    # AQE off for this section only: its final plans wrap scans in
    # query-stage leaves, hiding the scan metrics the measurement
    # reads; the scan+agg shape gains nothing from AQE anyway
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    for n_push in (4, 64):
        push_ids = [
            r["doc_id"]
            for r in big_sig_scan.select("doc_id")
            .orderBy(F.pmod(F.xxhash64("doc_id"), F.lit(999_983)), "doc_id")
            .limit(n_push)
            .collect()
        ]
        push_cand = spark.createDataFrame(
            [(i, 0) for i in push_ids], "corpus_doc long, new_doc long"
        )
        point = {"n_cand": n_push}
        for label, cap in (("with_push", real_cap), ("without_push", 0)):
            try:
                DI.DOC_PUSH_CAP = cap
                probe_s, canary_s, hot = bench._probe_slot(
                    spark, f"push_{n_push}_{label}"
                )
                walls, decoded = [], None
                for _ in range(REPS):
                    t0 = time.monotonic()
                    sigs_scan, _n = DI.fetch_candidate_sigs(
                        spark, coarse_idx, push_cand
                    )
                    res = sigs_scan.agg(F.sum(F.size("sh")))
                    res.collect()
                    walls.append(time.monotonic() - t0)
                    decoded = _scan_decoded_rows(res)
            finally:
                DI.DOC_PUSH_CAP = real_cap
            files = [urlparse(f).path for f in sigs_scan.inputFiles()]
            # pyarrow twin over the SAME matched files: row groups
            # whose doc_id stats admit any candidate — the decision
            # procedure the reader runs, recomputed from footers
            cand_set = sorted(push_ids)
            kept_rows = kept_bytes = tot_rows = tot_bytes = 0
            for f in files:
                md = pq.ParquetFile(f).metadata
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    col = next(
                        rg.column(c)
                        for c in range(rg.num_columns)
                        if rg.column(c).path_in_schema == "doc_id"
                    )
                    lo, hi = col.statistics.min, col.statistics.max
                    # compressed bytes summed per column chunk — the
                    # RowGroupMetaData field is UNcompressed only
                    rg_bytes = sum(
                        rg.column(c).total_compressed_size
                        for c in range(rg.num_columns)
                    )
                    tot_rows += rg.num_rows
                    tot_bytes += rg_bytes
                    if any(lo <= i <= hi for i in cand_set):
                        kept_rows += rg.num_rows
                        kept_bytes += rg_bytes
            point[label] = {
                "matched_files": len(files),
                "decoded_rows_scan_metric": decoded,
                "stats_admitted_rows": kept_rows if cap else tot_rows,
                "stats_admitted_bytes": kept_bytes if cap else tot_bytes,
                "matched_file_rows": tot_rows,
                "matched_file_bytes": tot_bytes,
                "wall_s": round(min(walls), 3),
                "walls": [round(w, 3) for w in walls],
                "cpu_probe_s": probe_s,
                "canary_s": canary_s,
                "slot_contended": hot,
            }
            print(json.dumps({f"push_{n_push}_{label}": point[label]}))
        docpush["points"].append(point)
    spark.conf.set("spark.sql.adaptive.enabled", aqe_before)

    out = {
        "sf_dir": sf_dir,
        "n_buckets": n_buckets,
        "n_sig_files": n_sig_files,
        "sig_file_rows": SIG_FILE_ROWS,
        "repl": REPL,
        "index_build_s": round(build_s, 2),
        "big_bands_bytes": big_bands_bytes,
        "big_sigs_bytes": big_sigs_bytes,
        "reps": REPS,
        # wall numbers carry the bench sentinel's verdict per point;
        # byte fractions are deterministic either way
        "host_contended": any(
            p["slot_contended"]
            for p in points
            + fetch_points
            + [
                pt[lab]
                for pt in docpush["points"]
                for lab in ("with_push", "without_push")
            ]
        ),
        "docpush": docpush,
        "probe_calm_ref": bench.PROBE_CALM_REF,
        "canary_calm_ref": bench.CANARY_CALM_REF,
        "points": points,
        "fetch_points": fetch_points,
    }
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import re

    rounds = [
        int(m.group(1))
        for f in os.listdir(here)
        for m in [re.match(r"BENCH_r(\d+)\.json", f)]
        if m
    ]
    n = (max(rounds) + 1) if rounds else 0
    path = os.path.join(here, f"index_probe_scaling_r{n:02d}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({"written": path}))
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
