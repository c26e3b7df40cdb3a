"""k-means clustering: oracle parity + partition/convergence laws."""

from __future__ import annotations

from tests.oracle import assert_matches_oracle


def test_kmeans_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_kmeans", sf_dir)


def test_kmeans_partitions_all_vectors(spark, sf_dir):
    """Cluster memberships must partition the vector set exactly:
    every vector in exactly one cluster, every cluster seeded from a
    real vec_id matching the seed predicate."""
    from mapreduceapp_spark.operators.clustering import KM_OFFSET, _km_stride
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources import tables
    from mapreduceapp_spark.sources.parquet import table_row_count

    stride = _km_stride(table_row_count(spark, sf_dir, "embeddings"))
    rows = get_query("q_kmeans").builder(spark, sf_dir).collect()
    n_vecs = tables(spark, sf_dir).embeddings.count()
    assert sum(r["n_members"] for r in rows) == n_vecs
    for r in rows:
        assert r["cluster_id"] % stride == KM_OFFSET
        assert r["n_members"] >= 1


def test_kmeans_round2_reduces_inertia(spark, sf_dir):
    """Lloyd's guarantee: total within-cluster squared distance must
    not increase from the seed assignment to the post-update
    assignment (computed here driver-side on the same quantized
    vectors, as an independent check of the two-round plan)."""
    import numpy as np

    from mapreduceapp_spark.functions.vectors import quantize_sql
    from mapreduceapp_spark.operators.clustering import KM_OFFSET, _km_stride
    from mapreduceapp_spark.sources import tables
    from mapreduceapp_spark.sources.parquet import table_row_count

    import pyspark.sql.functions as F

    e = (
        tables(spark, sf_dir)
        .embeddings.selectExpr("vec_id", f"{quantize_sql('embedding')} AS x")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in e])
    X = np.array([r["x"] for r in e], dtype=np.float64)
    stride = _km_stride(table_row_count(spark, sf_dir, "embeddings"))
    seeds = ids % stride == KM_OFFSET
    C0 = X[seeds]

    def assign(C):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return d.argmin(axis=1), d.min(axis=1).sum()

    lab0, inertia0 = assign(C0)
    C1 = np.stack([X[lab0 == j].mean(axis=0) for j in range(len(C0))])
    lab1, inertia1 = assign(C1)
    assert inertia1 <= inertia0


def test_semantic_prune_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_semantic_prune", sf_dir)


def test_semantic_prune_sound_and_nonvacuous(spark, sf_dir):
    """Soundness: every pruned vector must genuinely have a
    lower-id cosine-neighbor above the threshold somewhere in the
    corpus (the cluster restriction can only REMOVE candidate pairs,
    never invent them). Non-vacuity: something must actually be
    pruned at test SF. Keep-one: a cluster's lowest id is never
    pruned."""
    import numpy as np

    from mapreduceapp_spark.functions.vectors import quantize_sql
    from mapreduceapp_spark.operators.clustering import SEM_COS_THRESHOLD
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources import tables

    rows = get_query("q_semantic_prune").builder(spark, sf_dir).collect()
    pruned_ids = {r["vec_id"] for r in rows if r["pruned"] == 1}
    assert pruned_ids, "threshold/cluster combination prunes nothing — vacuous"

    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cl, members in by_cluster.items():
        lowest = min(m["vec_id"] for m in members)
        flag = next(m["pruned"] for m in members if m["vec_id"] == lowest)
        assert flag == 0, f"cluster {cl}: lowest id {lowest} was pruned"

    e = (
        tables(spark, sf_dir)
        .embeddings.selectExpr("vec_id", f"{quantize_sql('embedding')} AS x")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in e])
    X = np.array([r["x"] for r in e], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = Xn @ Xn.T
    for v in pruned_ids:
        i = int(np.where(ids == v)[0][0])
        close_lower = (cos[i] >= SEM_COS_THRESHOLD) & (ids < v)
        assert close_lower.any(), f"vec {v} pruned without a close lower-id partner"


def test_semantic_prune_subbucket_bounds_and_equality(spark):
    """Planted mega-cluster: the fragment-replicate triangle join must
    (a) keep every join key's row group bounded by the size cap — the
    no-single-key-blowup guarantee — and (b) return exactly the
    unbucketed join's answer."""
    from mapreduceapp_spark.operators.clustering import (
        _replicate_cells,
        _within_cluster_pruned,
    )

    # one pathological cluster of 3000 vectors in two orthogonal
    # families: within-family cosine ~1 (prunes to the lowest id),
    # cross-family ~0.01 (never prunes)
    n = 3000
    rows = []
    for i in range(n):
        x = [1000 + (i % 7), i % 5] if i % 2 == 0 else [i % 5, 1000 + (i % 7)]
        rows.append((i, 7, x, x[0] * x[0] + x[1] * x[1]))
    assigned = spark.createDataFrame(
        rows, "vec_id long, cluster_id long, x array<long>, sq long"
    )

    cap = 256
    m = -(-n // cap)
    rep = _replicate_cells(assigned, cap)
    per_key = rep.groupBy("cluster_id", "k1", "k2").count().collect()
    assert len(per_key) == m * (m + 1) // 2  # full triangle of cell pairs
    # each key holds members of <=2 cells of ~n/m rows (+ hash slack)
    assert max(r["count"] for r in per_key) <= 3 * cap

    got = sorted(r["vec_id"] for r in _within_cluster_pruned(assigned, cap).collect())
    want = sorted(
        r["vec_id"] for r in _within_cluster_pruned(assigned, 10**9).collect()
    )
    assert got == want  # sub-bucketing never changes the answer
    assert want == sorted(set(range(n)) - {0, 1})  # family minima survive


def test_cluster_purity_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_cluster_purity", sf_dir)


def test_cluster_purity_consistent_with_kmeans(spark, sf_dir):
    """Purity rows must cover exactly the k-means clusters with the
    same member counts, and the majority can never exceed the size."""
    from mapreduceapp_spark.plans.registry import get_query

    purity = {
        r.cluster_id: r
        for r in get_query("q_cluster_purity").builder(spark, sf_dir).collect()
    }
    km = {
        r.cluster_id: r.n_members
        for r in get_query("q_kmeans").builder(spark, sf_dir).collect()
    }
    assert set(purity) == set(km)
    for cid, r in purity.items():
        assert r.n_members == km[cid]
        assert 1 <= r.n_majority <= r.n_members

def test_km_stride_sqrt_balance_and_floor():
    """The √N seed stride (round 7 — same treatment as q_ann_ivf's)
    must floor at KM_MIN_STRIDE through every oracle/bench scale (so
    the rework is bit-identical there) and track isqrt above it; the
    SQL twin's greatest/floor/sqrt expression must agree exactly."""
    import math

    import duckdb

    from mapreduceapp_spark.operators.clustering import (
        KM_MIN_STRIDE,
        _km_stride,
    )

    for n in (500, 2000, KM_MIN_STRIDE**2):
        assert _km_stride(n) == KM_MIN_STRIDE
    con = duckdb.connect()
    for n in (500, 20_000, 10**6 - 1, 10**6, 10**8):
        (sql_stride,) = con.execute(
            f"SELECT greatest({KM_MIN_STRIDE}, "
            f"CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT))"
        ).fetchone()
        assert sql_stride == _km_stride(n)
        assert _km_stride(n) == max(KM_MIN_STRIDE, math.isqrt(n))
