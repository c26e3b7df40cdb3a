"""Persisted ANN index: build/probe row-equality with the in-plan
IVFADC, partition/file pruning proofs, relocation, regime gates
(rules stated in operators/ann_index.py)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mapreduceapp_spark.operators import ann_index as ai
from mapreduceapp_spark.operators.ann_index import (
    fetch_probed_codes,
    probe_ann_index,
    q_ann_index_probe,
    write_ann_index,
    write_fixture_ann_index,
)
from mapreduceapp_spark.operators.index_layout import (
    bucket_count,
    index_slot,
    read_meta,
)
from mapreduceapp_spark.operators.similarity import (
    ADC_IVFADC,
    KNN_QUERY_PRED,
    PQ_M,
    _aniso,
    _ivf_stride,
    _opq_permute,
    _pq_k,
    adc_search,
)
from mapreduceapp_spark.sources.parquet import table_row_count


def _lineage(spark, sf_dir):
    return _opq_permute(_aniso(spark, sf_dir))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_probe_equals_inplan_twin(spark, sf_dir):
    """The headline contract (VERDICT r14 ask #1): the persisted-
    index probe is ROW-EQUAL to the in-plan residual IVFADC over the
    same lineage — bit-identical tables in, bit-identical ADC ranks
    out. Also pins the registered query frame against its in-plan
    twin and the adopted oracle identity."""
    e_p = _lineage(spark, sf_dir)
    n = table_row_count(spark, sf_dir, "embeddings")
    inplan = adc_search(e_p, n, ADC_IVFADC)
    probed = probe_ann_index(
        spark,
        index_slot(
            spark, "ann_index", sf_dir, "embeddings", write_fixture_ann_index
        ),
        e_p.filter(KNN_QUERY_PRED),
        n_queries_bound=n // 100 + 1,
    )
    assert probed.columns == inplan.columns
    rows = _rows(probed)
    assert rows == _rows(inplan) and rows
    # registered query ≡ the composition rung, frame for frame
    from mapreduceapp_spark.plans.registry import get_query

    lhs = _rows(q_ann_index_probe(spark, sf_dir))
    rhs = _rows(
        get_query("q_opq_residual_recall_aniso").builder(spark, sf_dir)
    )
    assert lhs == rhs and lhs
    # the oracle is adopted verbatim — one ground truth, two paths
    assert (
        get_query("q_ann_index_probe").oracle
        == get_query("q_opq_residual_recall_aniso").oracle
    )


def test_index_layout(spark, sf_dir, tmp_path):
    path = str(tmp_path / "ann_index")
    e_p = _lineage(spark, sf_dir)
    n = table_row_count(spark, sf_dir, "embeddings")
    write_ann_index(spark, e_p, n, path)
    meta = read_meta(path)
    assert meta["complete"] and meta["source_rows"] == n
    assert meta["stride"] == _ivf_stride(n)
    assert meta["k_cent"] == _pq_k(n)
    assert meta["n_buckets"] == bucket_count(
        n * PQ_M, spark.sparkContext.defaultParallelism
    )
    cents = spark.read.parquet(os.path.join(path, "centroids"))
    assert cents.count() == meta["n_cells"] > 0
    book = spark.read.parquet(os.path.join(path, "codebook"))
    assert book.count() == meta["k_cent"] * PQ_M <= 2048
    codes = spark.read.parquet(os.path.join(path, "codes"))
    # every vector encodes: PQ_M code rows each, cell id riding along
    assert codes.count() == n * PQ_M
    assert set(codes.columns) == {"vec_id", "m", "code", "cluster", "cell_bucket"}
    buckets_on_disk = {
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(path, "codes"))
        if d.startswith("cell_bucket=")
    }
    assert buckets_on_disk == {
        r["c"] % meta["n_buckets"]
        for r in cents.select(F.col("cent_id").alias("c")).collect()
    }
    sidecar = spark.read.parquet(os.path.join(path, "code_files"))
    assert sidecar.count() == meta["n_code_files"] >= len(buckets_on_disk)
    # sidecar paths are RELATIVE to codes/ (the moved-index rule)
    assert all(
        not r["path"].startswith(("/", "file:"))
        for r in sidecar.select("path").collect()
    )


def test_probe_prunes_partitions(spark, tmp_path, monkeypatch):
    """The scale contract: probed bytes track probed cells. Built at
    sf0.01 (10 cells) with a 4-directory layout (several cells per
    bucket) and a tiny file size so BOTH pruning grains are
    observable at fixture scale: the file grid inside a bucket
    discriminates between its cells via the sidecar's cluster ranges,
    and unmatched files/directories are provably dead weight
    (deleting them leaves the probe's rows unchanged — the band-index
    proof shape)."""
    from tests.conftest import SF_DIR_MID

    sf_dir = SF_DIR_MID
    monkeypatch.setattr(ai, "bucket_count", lambda entries, parallelism: 4)
    path = str(tmp_path / "ann_index_small")
    e_p = _lineage(spark, sf_dir)
    n = table_row_count(spark, sf_dir, "embeddings")
    write_ann_index(spark, e_p, n, path, code_rows_per_file=64)
    meta = read_meta(path)
    assert meta["n_buckets"] == 4
    assert meta["n_code_files"] > 2 * meta["n_buckets"]  # sidecar engaged

    queries = e_p.filter("vec_id = 0")
    probed = probe_ann_index(spark, path, queries, nprobe=1)
    before = _rows(probed)
    assert before

    # re-derive the probed cell from the probe GEMM the index uses
    from mapreduceapp_spark.operators.similarity import L2, _probe

    cents = spark.read.parquet(os.path.join(path, "centroids"))
    cells = sorted(
        r["probe"]
        for r in _probe(queries, cents, 1, L2)
        .select("probe")
        .distinct()
        .collect()
    )
    assert len(cells) == 1
    scan = fetch_probed_codes(spark, path, cells)
    from urllib.parse import urlparse

    matched = {urlparse(f).path for f in scan.inputFiles()}
    all_files = {
        urlparse(f).path
        for f in spark.read.parquet(os.path.join(path, "codes")).inputFiles()
    }
    assert matched < all_files  # strictly finer than a full scan
    # file grain is strictly finer than directory grain: other cells
    # share the probed cell's bucket, and their files are skipped
    bucket_files = {
        f
        for f in all_files
        if f"cell_bucket={cells[0] % meta['n_buckets']}/" in f
    }
    assert matched < bucket_files
    # the matched files agree with the sidecar's cluster ranges
    stats = spark.read.parquet(os.path.join(path, "code_files")).collect()
    expected = {
        os.path.join(path, "codes", r["path"])
        for r in stats
        if r["cell_bucket"] == cells[0] % meta["n_buckets"]
        and r["lo"] <= cells[0] <= r["hi"]
    }
    assert matched == expected
    # behavioral proof: unmatched directories and files are dead
    # weight for this probe
    codes_dir = os.path.join(path, "codes")
    for d in os.listdir(codes_dir):
        if (
            d.startswith("cell_bucket=")
            and int(d.split("=")[1]) != cells[0] % meta["n_buckets"]
        ):
            shutil.rmtree(os.path.join(codes_dir, d))
    removed = 0
    for root, _, files in os.walk(codes_dir):
        for f in files:
            full = os.path.join(root, f)
            if f.endswith(".parquet") and full not in matched:
                os.remove(full)
                removed += 1
    assert removed > 0
    after = _rows(probe_ann_index(spark, path, queries, nprobe=1))
    assert after == before


def test_directory_pruning_regime_and_plan_filter(spark, sf_dir, tmp_path):
    """Default-geometry indexes (one file per bucket at fixture
    scale) route to directory pruning — the sidecar gate — and the
    codes scan carries a planning-time PartitionFilter, not a
    post-scan filter."""
    path = str(tmp_path / "ann_index_dir")
    e_p = _lineage(spark, sf_dir)
    n = table_row_count(spark, sf_dir, "embeddings")
    write_ann_index(spark, e_p, n, path)
    meta = read_meta(path)
    assert (
        meta["n_code_files"]
        <= ai.SIDECAR_MIN_FILES_PER_BUCKET * meta["n_buckets"]
    )
    cents = spark.read.parquet(os.path.join(path, "centroids"))
    one_cell = [cents.select("cent_id").orderBy("cent_id").first()["cent_id"]]
    scan = fetch_probed_codes(spark, path, one_cell)
    # r16: a transactional index expresses the directory grain as an
    # explicit committed-file list (driver-side, from the sidecar's
    # committed rows — the crash-rollback visibility manifest), so the
    # pruning proof is the scan's input file set: every file sits in
    # the probed cell's bucket directory, none outside it
    from urllib.parse import urlparse

    bucket_dir = os.path.join(
        path, "codes", f"cell_bucket={one_cell[0] % meta['n_buckets']}"
    )
    in_files = {urlparse(f).path for f in scan.inputFiles()}
    assert in_files and all(
        f.startswith(bucket_dir + os.sep) for f in in_files
    ), in_files
    assert {r["cluster"] for r in scan.select("cluster").distinct().collect()} <= {
        c
        for c in (
            r["cent_id"] for r in cents.select("cent_id").collect()
        )
        if c % meta["n_buckets"] == one_cell[0] % meta["n_buckets"]
    }


def test_probe_cell_collect_gate_row_equal(spark, sf_dir, tmp_path, monkeypatch):
    """Both sides of the CELL_COLLECT_CAP gate produce the same rows:
    the bounded-literal path (cells collected, files pruned) and the
    extreme-geometry fallback (bucket literals only). The fallback is
    forced by pinning the cap to 0 — the regime-gate grammar's
    pin-both-sides rule."""
    path = str(tmp_path / "ann_index_gate")
    e_p = _lineage(spark, sf_dir)
    n = table_row_count(spark, sf_dir, "embeddings")
    write_ann_index(spark, e_p, n, path)
    queries = e_p.filter(KNN_QUERY_PRED)
    lit_rows = _rows(probe_ann_index(spark, path, queries))
    monkeypatch.setattr(ai, "CELL_COLLECT_CAP", 0)
    fb_rows = _rows(probe_ann_index(spark, path, queries))
    assert fb_rows == lit_rows and fb_rows


@pytest.mark.slow
def test_index_survives_relocation(spark, sf_dir, tmp_path):
    """Relative sidecar paths: a moved/copied index probes its
    current location, never its birthplace."""
    path = str(tmp_path / "ann_index_a")
    e_p = _lineage(spark, sf_dir)
    n = table_row_count(spark, sf_dir, "embeddings")
    # small files so the sidecar path (the one that stores paths) is
    # the regime under test (sf0.001: 800 code rows / 2 per file =
    # 400 files > 2 files per bucket × local[4]'s 4 buckets)
    write_ann_index(spark, e_p, n, path, code_rows_per_file=2)
    queries = e_p.filter(KNN_QUERY_PRED)
    before = _rows(probe_ann_index(spark, path, queries))
    moved = str(tmp_path / "ann_index_b")
    shutil.move(path, moved)
    after = _rows(probe_ann_index(spark, moved, queries))
    assert after == before and after


def test_probe_of_empty_query_set(spark, sf_dir, tmp_path):
    path = str(tmp_path / "ann_index_e")
    e_p = _lineage(spark, sf_dir)
    n = table_row_count(spark, sf_dir, "embeddings")
    write_ann_index(spark, e_p, n, path)
    out = probe_ann_index(spark, path, e_p.filter(F.lit(False)))
    assert out.columns == ["query_id", "neighbor_id", "rnk", "adc"]
    assert out.count() == 0


def test_append_placement_and_consistency(spark, sf_dir, tmp_path):
    """Incremental append (the compaction-lifecycle ingest half):
    appended code rows are EXACTLY the frozen-artifact encode of the
    batch — same cells, same codes — recomputed here by composing the
    kernels against the index's persisted centroids/codebook
    independently of the append path; sidecar and meta stay
    consistent (every on-disk file covered, counts agree)."""
    from mapreduceapp_spark.operators.ann_index import append_ann_index
    from mapreduceapp_spark.operators.similarity import L2, _assign, _pq_codes

    e_p = _lineage(spark, sf_dir)
    corpus = e_p.filter("vec_id % 10 < 8")
    batch = e_p.filter("vec_id % 10 >= 8")
    n_c = corpus.count()
    path = str(tmp_path / "ann_index_app")
    write_ann_index(spark, corpus, n_c, path)
    before_rows = spark.read.parquet(os.path.join(path, "codes")).count()
    append_ann_index(spark, path, batch)
    from mapreduceapp_spark.operators.ann_index import ann_index_state

    state = ann_index_state(path)
    assert state["appended_rows"] == batch.count()
    codes = spark.read.parquet(os.path.join(path, "codes"))
    got = sorted(
        map(
            tuple,
            codes.filter("vec_id % 10 >= 8")
            .select("vec_id", "m", "code", "cluster")
            .collect(),
        )
    )
    assert codes.count() == before_rows + state["appended_rows"] * PQ_M
    # independent frozen-artifact recomputation
    cents = spark.read.parquet(os.path.join(path, "centroids"))
    cent_m = spark.read.parquet(os.path.join(path, "codebook"))
    assigned = _assign(
        batch.select("vec_id", F.col("qv").alias("x"), "sq"),
        cents.select(
            F.col("cent_id").alias("cid"),
            F.col("c_qv").alias("cx"),
            F.col("c_sq").alias("csq"),
        ),
        L2,
    ).select("vec_id", "x", F.col("cid").alias("cluster"))
    resid = assigned.join(
        F.broadcast(cents.select(F.col("cent_id").alias("cluster"), "c_qv")),
        "cluster",
    ).select(
        "vec_id",
        "cluster",
        F.zip_with("x", "c_qv", lambda a, b: a - b).alias("qv"),
    )
    want = sorted(
        map(
            tuple,
            _pq_codes(resid.select("vec_id", "qv"), cent_m)
            .join(resid.select("vec_id", "cluster"), "vec_id")
            .select("vec_id", "m", "code", "cluster")
            .collect(),
        )
    )
    assert got == want and got
    # sidecar covers exactly the on-disk files, ranges hold their rows
    sidecar = spark.read.parquet(os.path.join(path, "code_files"))
    assert sidecar.count() == state["n_code_files"]
    from urllib.parse import urlparse

    on_disk = {
        urlparse(f).path for f in codes.inputFiles()
    }
    listed = {
        os.path.join(path, "codes", r["path"])
        for r in sidecar.select("path").collect()
    }
    assert listed == on_disk


@pytest.mark.slow
def test_append_segmentation_invariant(spark, sf_dir, tmp_path):
    """append(batch) ≡ append(half1); append(half2): every appended
    row's cell and code depend only on the frozen artifacts, so the
    probe over either index is row-identical — and the appended
    vectors are live probe candidates (the fixture's queries pick up
    batch neighbors)."""
    from mapreduceapp_spark.operators.ann_index import append_ann_index

    e_p = _lineage(spark, sf_dir)
    corpus = e_p.filter("vec_id % 10 < 8")
    batch = e_p.filter("vec_id % 10 >= 8")
    n_c = corpus.count()
    queries = e_p.filter(KNN_QUERY_PRED)
    p1 = str(tmp_path / "one_shot")
    write_ann_index(spark, corpus, n_c, p1)
    append_ann_index(spark, p1, batch)
    p2 = str(tmp_path / "two_step")
    write_ann_index(spark, corpus, n_c, p2)
    append_ann_index(spark, p2, batch.filter("vec_id % 2 = 0"))
    append_ann_index(spark, p2, batch.filter("vec_id % 2 = 1"))
    r1 = _rows(probe_ann_index(spark, p1, queries))
    r2 = _rows(probe_ann_index(spark, p2, queries))
    assert r1 == r2 and r1
    # appended vectors participate: corpus-only probe differs, and at
    # least one returned neighbor is a batch id
    p0 = str(tmp_path / "corpus_only")
    write_ann_index(spark, corpus, n_c, p0)
    r0 = _rows(probe_ann_index(spark, p0, queries))
    assert r1 != r0
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    assert any(row[1] in batch_ids for row in r1)


def test_ann_search_stream_equals_batch_probe(spark, tmp_path):
    """Streaming ANN search ≡ the batch probe over the same query set:
    queries partition across micro-batches and per-query top-k depends
    only on that query, so the union of epoch results is row-identical.
    Run at sf0.01 (5 fixture queries over 3 files → multiple epochs)."""
    from mapreduceapp_spark.streaming.probe import ann_search_stream
    from tests.conftest import SF_DIR_MID

    sf_dir = SF_DIR_MID
    e_p = _lineage(spark, sf_dir)
    n = table_row_count(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann_index_s")
    write_ann_index(spark, e_p, n, path)

    from mapreduceapp_spark.sources import tables

    emb = tables(spark, sf_dir).embeddings
    qdir = str(tmp_path / "qstream")
    emb.filter(KNN_QUERY_PRED).repartition(3).write.parquet(qdir)
    src = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    got: list[tuple] = []
    epochs: list[int] = []

    def _collect(topk, epoch_id):
        got.extend(map(tuple, topk.collect()))
        epochs.append(epoch_id)

    q = ann_search_stream(
        spark, src, path, _collect, str(tmp_path / "ckpt_ann")
    )
    q.awaitTermination()
    assert len(epochs) >= 2  # genuinely incremental
    want = _rows(probe_ann_index(spark, path, e_p.filter(KNN_QUERY_PRED)))
    assert sorted(got) == want and want


@pytest.mark.slow
def test_ann_append_crash_rolls_back_on_both_pruning_grains(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r15 ask #2: the append commits via one exclusive-create
    manifest (the TxLog primitive), so a crash ANYWHERE mid-append —
    after the codes files land, or after the segment-tagged sidecar
    rows land — leaves every pruning grain serving exactly the
    pre-append view: the file-grain path, the directory grain
    (committed-file list), and the CELL_COLLECT_CAP fallback."""
    from mapreduceapp_spark.operators.ann_index import (
        ann_index_state,
        append_ann_index,
    )

    e_p = _lineage(spark, sf_dir)
    corpus = e_p.filter("vec_id % 10 < 8")
    batch = e_p.filter("vec_id % 10 >= 8")
    queries = e_p.filter(KNN_QUERY_PRED)
    path = str(tmp_path / "ann_tx")
    write_ann_index(spark, corpus, corpus.count(), path)
    pre = _rows(probe_ann_index(spark, path, queries))
    pre_state = ann_index_state(path)

    # crash #1: codes landed, sidecar rows never written
    monkeypatch.setattr(
        ai, "write_file_ranges",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash-1")),
    )
    with pytest.raises(RuntimeError, match="crash-1"):
        append_ann_index(spark, path, batch)
    monkeypatch.undo()
    assert _rows(probe_ann_index(spark, path, queries)) == pre

    # crash #2: codes AND sidecar rows landed, manifest never created
    monkeypatch.setattr(
        ai, "_commit_index_manifest",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash-2")),
    )
    with pytest.raises(RuntimeError, match="crash-2"):
        append_ann_index(spark, path, batch)
    monkeypatch.undo()
    assert ann_index_state(path)["segs"] == pre_state["segs"]
    # file grain (default at this geometry under the tx design)
    assert _rows(probe_ann_index(spark, path, queries)) == pre
    # force the range-pruning gate on
    monkeypatch.setattr(ai, "SIDECAR_MIN_FILES_PER_BUCKET", 0)
    assert _rows(probe_ann_index(spark, path, queries)) == pre
    monkeypatch.undo()
    # force the extreme-geometry bucket-literal fallback
    monkeypatch.setattr(ai, "CELL_COLLECT_CAP", 0)
    assert _rows(probe_ann_index(spark, path, queries)) == pre
    monkeypatch.undo()


@pytest.mark.slow
def test_ann_append_retry_never_resurrects_orphans(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A retried append uses a fresh segment id, so the crashed
    attempt's orphaned code rows and sidecar rows stay invisible
    forever — without this, duplicate code rows would inflate ADC
    sums (wrong distances). Pinned by row-equality against a
    never-crashed index."""
    from mapreduceapp_spark.operators.ann_index import (
        ann_index_state,
        append_ann_index,
    )

    e_p = _lineage(spark, sf_dir)
    corpus = e_p.filter("vec_id % 10 < 8")
    batch = e_p.filter("vec_id % 10 >= 8")
    queries = e_p.filter(KNN_QUERY_PRED)
    n_c = corpus.count()

    clean = str(tmp_path / "clean")
    write_ann_index(spark, corpus, n_c, clean)
    append_ann_index(spark, clean, batch)
    want = _rows(probe_ann_index(spark, clean, queries))

    crashed = str(tmp_path / "crashed")
    write_ann_index(spark, corpus, n_c, crashed)
    # crash AFTER sidecar rows land (the deepest pre-commit point)
    monkeypatch.setattr(
        ai, "_commit_index_manifest",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom")),
    )
    with pytest.raises(RuntimeError, match="boom"):
        append_ann_index(spark, crashed, batch)
    monkeypatch.undo()
    append_ann_index(spark, crashed, batch)  # the retry
    got = _rows(probe_ann_index(spark, crashed, queries))
    assert got == want and got
    # exactly one committed append segment besides the build
    segs = ann_index_state(crashed)["segs"]
    assert len(segs) == 2 and segs[0] == "build"
    # the orphan rows are physically present but never visible
    sidecar = spark.read.parquet(os.path.join(crashed, "code_files"))
    assert sidecar.filter(~F.col("seg").isin(segs)).count() > 0


def test_drift_ratio_separates_drifted_appends(spark, sf_dir, tmp_path):
    """The compaction-trigger signal (VERDICT r15 ask #3): per-append
    quantization error (mean squared residual norm, measured off the
    already-staged residuals) relative to the build's. The r16 drift
    experiment showed appended RATIO is not the rebuild signal —
    same-distribution appends cost ≤0.02 recall even at 100% of
    corpus size — appended DRIFT is; this pins that the recorded
    signal actually separates the two regimes on the fixture."""
    from mapreduceapp_spark.functions.vectors import sq_norm_sql
    from mapreduceapp_spark.operators.ann_index import (
        ann_index_drift_ratio,
        append_ann_index,
    )
    from mapreduceapp_spark.operators.similarity import (
        ANISO_HALF,
        ANISO_SCALE,
    )

    e_p = _lineage(spark, sf_dir)
    corpus = e_p.filter("vec_id % 10 < 8")
    batch = e_p.filter("vec_id % 10 >= 8")
    n_c = corpus.count()

    control = str(tmp_path / "control")
    write_ann_index(spark, corpus, n_c, control)
    assert ann_index_drift_ratio(control) is None  # no appends yet
    append_ann_index(spark, control, batch)
    r_control = ann_index_drift_ratio(control)

    drifted = str(tmp_path / "drifted")
    write_ann_index(spark, corpus, n_c, drifted)
    delta = (ANISO_HALF * ANISO_SCALE) // 2
    shifted = batch.select(
        "vec_id",
        F.transform("qv", lambda x: x + F.lit(delta)).alias("qv"),
    ).withColumn("sq", F.expr(sq_norm_sql("qv")))
    append_ann_index(spark, drifted, shifted)
    r_drift = ann_index_drift_ratio(drifted)

    assert r_control is not None and r_drift is not None
    # same-distribution appends quantize like the corpus; drifted
    # batches measurably worse — the trigger orders them correctly
    assert r_control < 1.5 < r_drift, (r_control, r_drift)


def test_recompact_invalidates_meta_before_rebuild(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r16 #1: maybe_recompact_ann_index must invalidate the
    old _meta.json (and _log) BEFORE its destructive rebuild, so a
    crash mid-rebuild leaves an index readers refuse loudly instead
    of a half-overwritten index whose stale complete:true meta (and
    stale manifests over deleted files) still validates."""
    import mapreduceapp_spark.operators.ann_index as amod
    from mapreduceapp_spark.functions.vectors import sq_norm_sql
    from mapreduceapp_spark.operators.ann_index import (
        append_ann_index,
        maybe_recompact_ann_index,
    )
    from mapreduceapp_spark.operators.index_layout import meta_path
    from mapreduceapp_spark.operators.similarity import (
        ANISO_HALF,
        ANISO_SCALE,
    )

    e_p = _lineage(spark, sf_dir)
    corpus = e_p.filter("vec_id % 10 < 8")
    batch = e_p.filter("vec_id % 10 >= 8")
    n_c, n_b = corpus.count(), batch.count()
    path = str(tmp_path / "crashy")
    write_ann_index(spark, corpus, n_c, path)
    delta = (ANISO_HALF * ANISO_SCALE) // 2
    shifted = batch.select(
        "vec_id", F.transform("qv", lambda x: x + F.lit(delta)).alias("qv")
    ).withColumn("sq", F.expr(sq_norm_sql("qv")))
    append_ann_index(spark, path, shifted)

    def boom(*a, **k):
        raise RuntimeError("injected crash mid-rebuild")

    monkeypatch.setattr(amod, "write_ann_index", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        maybe_recompact_ann_index(spark, path, corpus, n_c + n_b)
    monkeypatch.undo()
    # the stale meta/log are gone: readers fail loudly, the slot's
    # completeness gate rebuilds from source
    assert not os.path.exists(meta_path(path))
    assert not os.path.isdir(os.path.join(path, "_log"))
    # and a retried recompaction... has no drift signal (no meta), so
    # the caller rebuilds via write_ann_index — the fresh build below
    # restores a complete, probe-able index
    write_ann_index(
        spark, corpus.unionByName(shifted), n_c + n_b, path
    )
    assert read_meta(path)["complete"]
    got = probe_ann_index(spark, path, shifted.filter("vec_id % 100 = 8"))
    assert got.count() > 0


@pytest.mark.slow
def test_maybe_recompact_consumes_drift_trigger(spark, sf_dir, tmp_path):
    """The trigger's consumer: a control append (drift_ratio ~1) must
    NOT trigger recompaction; a drifted append (ratio >> 2) must —
    and the rebuild over the current full corpus restores a fresh
    log, a unit drift baseline, and serves the union."""
    from mapreduceapp_spark.functions.vectors import sq_norm_sql
    from mapreduceapp_spark.operators.ann_index import (
        ann_index_drift_ratio,
        ann_index_state,
        append_ann_index,
        maybe_recompact_ann_index,
    )
    from mapreduceapp_spark.operators.similarity import (
        ANISO_HALF,
        ANISO_SCALE,
    )

    e_p = _lineage(spark, sf_dir)
    corpus = e_p.filter("vec_id % 10 < 8")
    batch = e_p.filter("vec_id % 10 >= 8")
    n_c, n_b = corpus.count(), batch.count()

    path = str(tmp_path / "auto")
    write_ann_index(spark, corpus, n_c, path)
    append_ann_index(spark, path, batch)
    union = corpus.unionByName(batch)
    assert not maybe_recompact_ann_index(spark, path, union, n_c + n_b)
    assert len(ann_index_state(path)["segs"]) == 2  # append intact

    delta = (ANISO_HALF * ANISO_SCALE) // 2
    shifted = batch.select(
        (F.col("vec_id") + 200_000).alias("vec_id"),
        F.transform("qv", lambda x: x + F.lit(delta)).alias("qv"),
    ).withColumn("sq", F.expr(sq_norm_sql("qv")))
    append_ann_index(spark, path, shifted)
    assert ann_index_drift_ratio(path) > 2.0
    full = union.unionByName(shifted)
    n_full = n_c + 2 * n_b
    assert maybe_recompact_ann_index(spark, path, full, n_full)
    state = ann_index_state(path)
    assert state["segs"] == ["build"] and state["appended_rows"] == 0
    assert ann_index_drift_ratio(path) is None
    assert read_meta(path)["source_rows"] == n_full
    # the recompacted index serves the whole corpus including the
    # formerly-drifted vectors (their ids are ≡ 8,9 mod 10, so pick
    # a small deterministic slice of them as queries)
    queries = shifted.filter("vec_id % 100 = 8")
    assert queries.count() > 0
    got = probe_ann_index(spark, path, queries)
    assert got.count() > 0
