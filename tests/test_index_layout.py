"""The shared persisted-index layout (operators/index_layout.py), checked
for each index kind: bucket sizing, the meta rule and the slot rule."""

from __future__ import annotations

import json
import os

import pytest

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
    MAX_BUCKETS,
    MIN_BUCKETS,
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

# kind → (slot name, source table, slot builder, direct probe)
KINDS = {
    "band": ("band_index", "documents", write_band_index, probe_band_index),
    "winnow": ("winnow_index", "documents", write_winnow_index, probe_winnow_index),
    "ann": ("ann_index", "embeddings", write_fixture_ann_index, probe_ann_index),
}


@pytest.mark.parametrize(
    "per_row, cases",
    [
        pytest.param(
            LSH_BANDS,
            [
                (0, MIN_BUCKETS),
                (60_000, MIN_BUCKETS),  # fixtures
                # 16M docs × 16 bands = 256M entries = exactly 64 × 4M
                (16_000_000, 64),
                (16_000_001, 128),
                (10**11, MAX_BUCKETS),  # 100 TB
            ],
            id="band",
        ),
        pytest.param(
            WINNOW_FPS_PER_DOC_EST,
            [
                (0, MIN_BUCKETS),
                (60_000, MIN_BUCKETS),  # fixtures
                # 1M docs × 256 fps = 256M entries = exactly 64 × 4M
                (1_000_000, 64),
                (1_000_001, 128),
                (10**11, MAX_BUCKETS),  # 100 TB
            ],
            id="winnow",
        ),
        pytest.param(
            PQ_M,
            [
                (100, 64),
                # 1e8 vectors × 8 = 8e8 code rows → 256 buckets of ≤4M
                (10**8, 256),
                (10**12, 65_536),
            ],
            id="ann",
        ),
    ],
)
def test_bucket_count_derivation_regimes(per_row, cases):
    """Footer-derived layout: a floor of 64 directories at fixture
    scale, doubling with the entry count, capped at 65,536 (the
    bounded-driver-literal ceiling) in the 100 TB regime; powers of
    two throughout, each bucket holding at most ENTRIES_PER_BUCKET
    entries below the cap."""
    assert (MIN_BUCKETS, MAX_BUCKETS) == (64, 65_536)
    for n, want in cases:
        assert bucket_count(n * per_row) == want, n
    for n in (1, 10**6, 10**8, 10**9, 10**11):
        b = bucket_count(n * per_row)
        assert b & (b - 1) == 0 and MIN_BUCKETS <= b <= MAX_BUCKETS
        assert b == MAX_BUCKETS or b * ENTRIES_PER_BUCKET >= n * per_row


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
    fingerprint must NOT rebuild."""
    path = _slot(spark, sf_dir, kind)
    built_at = os.path.getmtime(meta_path(path))
    assert _slot(spark, sf_dir, kind) == path
    assert os.path.getmtime(meta_path(path)) == built_at, "fresh slot rebuilt"

    meta = read_meta(path)
    true_rows = meta["source_rows"]
    meta["source_rows"] = true_rows + 7  # simulate a regenerated fixture
    _rewrite_meta(path, meta)
    assert _slot(spark, sf_dir, kind) == path
    assert read_meta(path)["source_rows"] == true_rows, "stale slot kept"


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
