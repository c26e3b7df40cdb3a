"""The shared persisted-index layout (operators/index_layout.py), checked
for each index kind: bucket sizing, the meta rule and the slot rule."""

from __future__ import annotations

import json
import os

import pytest

from mapreduceapp_spark.operators import ann_index, dedup_index, winnow_index
from mapreduceapp_spark.operators.ann_index import (
    probe_ann_index,
    write_fixture_ann_index,
)
from mapreduceapp_spark.operators.dedup import LSH_BANDS
from mapreduceapp_spark.operators.dedup_index import (
    probe_band_index,
    write_band_index,
)
from mapreduceapp_spark.operators.index_layout import (
    ENTRIES_PER_BUCKET,
    FINE_ENTRIES_PER_BUCKET,
    FINE_MAX_BUCKETS,
    MAX_BUCKETS,
    bucket_count,
    index_slot,
    meta_path,
    read_meta,
)
from mapreduceapp_spark.operators.similarity import PQ_M
from mapreduceapp_spark.operators.winnow_index import (
    WINNOW_FPS_PER_DOC_EST,
    probe_winnow_index,
    write_winnow_index,
)
from tests.conftest import jobs_run

# kind → (slot name, source table, slot builder, direct probe)
KINDS = {
    "band": ("band_index", "documents", write_band_index, probe_band_index),
    "winnow": ("winnow_index", "documents", write_winnow_index, probe_winnow_index),
    "ann": ("ann_index", "embeddings", write_fixture_ann_index, probe_ann_index),
}
# kind → (meta key, table) pairs: counts the build records of the
# tables it wrote
COUNTED = {
    "band": [("n_sig_files", "sig_files")],
    "winnow": [],
    "ann": [("n_cells", "centroids"), ("n_code_files", "code_files")],
}


@pytest.mark.parametrize(
    "per_row, cases",
    [
        pytest.param(
            LSH_BANDS,
            {
                64: [
                    (0, 64),
                    (60_000, 64),  # fixtures
                    # 16M docs × 16 bands = 256M entries = exactly 64 × 4M
                    (16_000_000, 64),
                    (16_000_001, 128),
                    (10**11, MAX_BUCKETS),  # 100 TB
                ],
                4: [
                    (0, 4),
                    (60_000, 4),  # fixtures
                    # 62.5k docs × 16 bands = 1M entries = exactly 4 × 250k
                    (62_500, 4),
                    (62_501, 8),
                    (250_000, 16),  # 4M entries: 16 × 250k
                    (16_000_000, 64),
                    (16_000_001, 128),
                    (10**11, MAX_BUCKETS),
                ],
                6: [
                    (0, 6),
                    # 93,750 docs × 16 bands = 1.5M entries = exactly 6 × 250k
                    (93_750, 6),
                    (93_751, 12),
                    # 24M docs × 16 bands = 384M entries = exactly 96 × 4M
                    (24_000_000, 96),
                    (24_000_001, 192),
                    (10**11, MAX_BUCKETS),
                ],
            },
            id="band",
        ),
        pytest.param(
            WINNOW_FPS_PER_DOC_EST,
            {
                64: [
                    (0, 64),
                    (60_000, 64),  # fixtures
                    # 1M docs × 256 fps = 256M entries = exactly 64 × 4M
                    (1_000_000, 64),
                    (1_000_001, 128),
                    (10**11, MAX_BUCKETS),  # 100 TB
                ],
                4: [
                    (500, 4),  # fixtures
                    # 3,906 docs × 256 fps = 999,936 entries ≤ 4 × 250k
                    (3_906, 4),
                    (3_907, 8),
                    (60_000, 64),
                    (1_000_000, 64),
                    (1_000_001, 128),
                    (10**11, MAX_BUCKETS),
                ],
                6: [
                    (500, 6),
                    # 5,859 docs × 256 fps = 1,499,904 entries ≤ 6 × 250k
                    (5_859, 6),
                    (5_860, 12),
                    (60_000, 96),
                    # 1.5M docs × 256 fps = 384M entries = exactly 96 × 4M
                    (1_500_000, 96),
                    (1_500_001, 192),
                    (10**11, MAX_BUCKETS),
                ],
            },
            id="winnow",
        ),
        pytest.param(
            PQ_M,
            {
                64: [
                    (100, 64),
                    # 1e8 vectors × 8 = 8e8 code rows → 256 buckets of ≤4M
                    (10**8, 256),
                    (10**12, 65_536),
                ],
                4: [
                    (100, 4),
                    # 125k vectors × 8 = 1M code rows = exactly 4 × 250k
                    (125_000, 4),
                    (125_001, 8),
                    (10**8, 256),
                    (10**12, 65_536),
                ],
                6: [
                    (100, 6),
                    (187_500, 6),
                    (187_501, 12),
                    # 8e8 code rows → 6 × 2^6 = 384 buckets of ≤4M
                    (10**8, 384),
                    (10**12, 65_536),
                ],
            },
            id="ann",
        ),
    ],
)
def test_bucket_count_derivation_regimes(per_row, cases):
    """Footer-derived layout: as many directories as the building
    session has cores at fixture scale, doubling with the entry count
    (at most 250k entries a bucket below 64 buckets, 4M beyond),
    capped at 65,536 (the bounded-driver-literal ceiling) in the 100 TB
    regime; below the cap the count is the parallelism times a power
    of two, the smallest one that holds the entries. Pinned at a
    64-core session (the old fixed floor's values), at local[4], and
    at a non-power-of-two parallelism."""
    assert (FINE_ENTRIES_PER_BUCKET, FINE_MAX_BUCKETS) == (250_000, 64)
    assert (ENTRIES_PER_BUCKET, MAX_BUCKETS) == (4_000_000, 65_536)

    def holds(b, entries):
        return b * ENTRIES_PER_BUCKET >= entries and (
            b >= FINE_MAX_BUCKETS or b * FINE_ENTRIES_PER_BUCKET >= entries
        )

    for p, want_by_n in cases.items():
        for n, want in want_by_n:
            assert bucket_count(n * per_row, p) == want, (p, n)
        for n in (0, 1, 10**4, 10**6, 10**8, 10**9, 10**11):
            entries = n * per_row
            b = bucket_count(entries, p)
            assert p <= b <= MAX_BUCKETS, (p, n)
            if b == MAX_BUCKETS:
                continue
            q = b // p
            assert b % p == 0 and q & (q - 1) == 0, (p, n)
            assert holds(b, entries), (p, n)
            assert b == p or not holds(b // 2, entries), (p, n)


@pytest.fixture
def staging_tmp(tmp_path, monkeypatch):
    """A fresh staging root, so each test builds its slots itself."""
    from mapreduceapp_spark.plans import staging

    monkeypatch.setattr(staging, "_STAGING_ROOT", str(tmp_path / "stage"))
    monkeypatch.setattr(staging, "_STAGED_PLANS", {})


def _slot(spark, sf_dir, kind):
    name, table, build, _ = KINDS[kind]
    return index_slot(spark, name, sf_dir, table, build)


def _rewrite_meta(path, meta):
    with open(meta_path(path), "w") as fh:
        json.dump(meta, fh)


@pytest.mark.parametrize("kind", list(KINDS))
def test_slot_staleness_fingerprint_forces_rebuild(
    spark, sf_dir, staging_tmp, kind
):
    """A persistent staging root can outlive a fixture regenerated at
    the same sf_dir: the slot compares the recorded source_rows with
    the source table's footer count (zero jobs) and rebuilds on a
    mismatch instead of serving the stale index. A matching
    fingerprint must NOT rebuild. The counts the meta records of the
    written tables equal a Spark count of them, also after a rebuild
    rewrote the same paths."""
    path = _slot(spark, sf_dir, kind)
    built_at = os.path.getmtime(meta_path(path))
    assert _slot(spark, sf_dir, kind) == path
    assert os.path.getmtime(meta_path(path)) == built_at, "fresh slot rebuilt"

    meta = read_meta(path)
    true_rows = meta["source_rows"]
    meta["source_rows"] = true_rows + 7  # simulate a regenerated fixture
    for key, _ in COUNTED[kind]:
        meta[key] = -1
    _rewrite_meta(path, meta)
    assert _slot(spark, sf_dir, kind) == path
    rebuilt = read_meta(path)
    assert rebuilt["source_rows"] == true_rows, "stale slot kept"
    for key, table in COUNTED[kind]:
        assert rebuilt[key] == spark.read.parquet(os.path.join(path, table)).count() > 0, key


@pytest.mark.parametrize("kind", list(KINDS))
def test_meta_is_required(spark, sf_dir, staging_tmp, kind):
    """A directory without a complete current-format meta is not an
    index — no meta at all (a pre-metadata build), a meta from an
    older writer (no source_rows fingerprint), or one without the
    complete flag: a direct probe raises the named error instead of
    guessing a layout, and the slot rebuilds it."""
    probe = KINDS[kind][3]
    path = _slot(spark, sf_dir, kind)
    current = read_meta(path)
    for tamper in ("missing", "source_rows", "complete"):
        if tamper == "missing":
            os.remove(meta_path(path))
        else:
            _rewrite_meta(path, {k: v for k, v in current.items() if k != tamper})
        with pytest.raises(ValueError, match="current-format"):
            probe(spark, path, spark.range(0))
        assert _slot(spark, sf_dir, kind) == path
        assert read_meta(path)["source_rows"] == current["source_rows"], tamper


@pytest.mark.parametrize("forced", [None, 64], ids=["session", "forced_64"])
def test_index_scans_list_without_jobs(spark, sf_dir, tmp_path, monkeypatch, forced):
    """At the session's own layout (local[4]: 4 buckets) building the
    bands, sigs, fps and codes scans of a fresh index runs no Spark
    job: 4 bucket directories sit below Spark's parallel
    partition-discovery threshold (32 paths), so the listing stays on
    the driver. Forced to 64 buckets the same scans run a listing
    job, which shows the count can fail. Each scan is given the
    schema it was written with, read beforehand, so the count is the
    partition discovery alone, not the footer read that infers a
    schema."""
    if forced is not None:
        for mod in (dedup_index, winnow_index, ann_index):
            monkeypatch.setattr(mod, "bucket_count", lambda entries, parallelism: forced)
    roots = {kind: str(tmp_path / kind) for kind in KINDS}
    for kind, root in roots.items():
        KINDS[kind][2](spark, sf_dir, root)
    tables = [
        os.path.join(roots["band"], "bands"),
        os.path.join(roots["band"], "sigs"),
        os.path.join(roots["winnow"], "fps"),
        os.path.join(roots["ann"], "codes"),
    ]
    n_buckets = {read_meta(root)["n_buckets"] for root in roots.values()}
    assert n_buckets == {forced or spark.sparkContext.defaultParallelism}
    schemas = [spark.read.parquet(t).schema for t in tables]

    jobs = jobs_run(
        spark,
        lambda: [spark.read.schema(s).parquet(t) for s, t in zip(schemas, tables)],
    )
    if forced is None:
        assert jobs == 0
    else:
        assert jobs >= 1
