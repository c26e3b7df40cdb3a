"""Similarity search (C3): exact k-NN, threshold pairs, LSH ANN."""

from __future__ import annotations

import math

import pytest

from tests.oracle import assert_matches_oracle


def test_knn_cosine_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_knn_cosine", sf_dir)


def test_embedding_neardup_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_embedding_neardup", sf_dir)


def test_embedding_neardup_lsh_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_embedding_neardup_lsh", sf_dir)


def test_ann_lsh_oracle(spark, sf_dir):
    """Pins the deterministic multi-probe oracle (sha256-derived
    hyperplanes, DuckDB recomputes signatures + probe sets) in CI —
    not just in the driver rotation (ADVICE r6: q_lsh_recall's hit
    counts alone would miss a cos/rnk column divergence)."""
    assert_matches_oracle(spark, "q_ann_lsh", sf_dir)


def test_neardup_tiling_derives_from_row_count():
    """The exact path's cell count must respect both constraints: a
    cell never exceeds FRAGMENT_GROUP_ROWS rows, so task memory stays
    constant in N, and the tile count covers the available cores, so
    a mid-size table does not run one serial GEMM."""
    import math

    from mapreduceapp_spark.operators.similarity import (
        FRAGMENT_GROUP_ROWS,
        _neardup_blocks,
    )

    assert _neardup_blocks(0, 8) == 1  # degenerate: never > n_rows
    assert _neardup_blocks(3, 64) == 3
    for n, p in ((500, 8), (20_000, 32), (10**6, 32), (10**9, 1000)):
        nb = _neardup_blocks(n, p)
        assert -(-n // nb) <= FRAGMENT_GROUP_ROWS  # memory ceiling
        assert nb * (nb + 1) // 2 >= p or nb == n  # parallelism floor
        assert nb >= math.ceil(n / FRAGMENT_GROUP_ROWS)


def test_ivf_stride_sqrt_balance_and_cross_engine_parity():
    """The √N stride (VERDICT r6 ask #1) must (a) keep C ≈ √N so
    assign FLOPs are ~N^1.5, (b) floor at IVF_MIN_STRIDE — binding at
    every oracle/bench scale so the rework is bit-identical there —
    and (c) evaluate to the IDENTICAL integer in DuckDB's
    greatest/floor/sqrt expression as in Python, including exact
    perfect-square boundaries, since the oracle derives the stride
    from count(*) rather than interpolating a constant."""
    import duckdb

    from mapreduceapp_spark.operators.similarity import (
        IVF_MIN_STRIDE,
        _ivf_stride,
    )

    # (a)+(b): floor regime at test scales, √N above it
    for n in (500, 2000, IVF_MIN_STRIDE**2):
        assert _ivf_stride(n) == IVF_MIN_STRIDE
    for n in (10**4, 10**6, 10**8, 10**10):
        s = _ivf_stride(n)
        assert s == math.isqrt(n)  # floor∘sqrt ≡ integer sqrt here
        assert 0.5 <= (n / s) / math.sqrt(n) <= 2.0  # C ≈ √N
    # (c): cross-engine parity of the exact formula, adversarial Ns
    # (perfect squares and their neighbors, where FP rounding would
    # first diverge from integer sqrt)
    con = duckdb.connect()
    ns = [500, 2000, 2500, 2501, 20_000]
    for k in (100, 1000, 31_623, 10**6):
        ns += [k * k - 1, k * k, k * k + 1]
    for n in ns:
        (sql_stride,) = con.execute(
            f"SELECT greatest({IVF_MIN_STRIDE}, "
            f"CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT))"
        ).fetchone()
        assert sql_stride == _ivf_stride(n), (n, sql_stride, _ivf_stride(n))
        assert _ivf_stride(n) == max(IVF_MIN_STRIDE, math.isqrt(n))


def test_emb_lsh_rows_derivation():
    """Signature depth must grow with N so an expected band bucket
    stays ≤ EMB_LSH_TARGET_BUCKET rows, floored at EMB_LSH_MIN_ROWS
    and capped at EMB_LSH_R_MAX (the oracle's rendered-bit ceiling)."""
    from mapreduceapp_spark.operators.similarity import (
        EMB_LSH_MIN_ROWS,
        EMB_LSH_R_MAX,
        EMB_LSH_TARGET_BUCKET,
        _emb_lsh_rows,
    )

    for n in (0, 500, 2000, 5000, EMB_LSH_TARGET_BUCKET):
        assert _emb_lsh_rows(n) == EMB_LSH_MIN_ROWS
    for n in (10**6, 10**8, 10**9):
        r = _emb_lsh_rows(n)
        assert n / 2**r <= EMB_LSH_TARGET_BUCKET
        assert n / 2 ** (r - 1) > EMB_LSH_TARGET_BUCKET or r == EMB_LSH_MIN_ROWS
    # cap binds exactly at the documented ceiling
    assert _emb_lsh_rows(10**15) == EMB_LSH_R_MAX


def test_emb_lsh_depth_sql_twin_is_bit_identical():
    """The oracle derives the signature depth from count(*) inside
    the SQL (ADVICE r7 — no import-time path/env dependency). The
    SQL expression must agree with the Python derivation at every N,
    including the exact regime boundaries: both sides are pure
    integer bit-length arithmetic, so this is equality by
    construction, checked here over the boundary sweep."""
    import duckdb

    from mapreduceapp_spark.operators.similarity import (
        _EMB_LSH_ROWS_SQL,
        EMB_LSH_TARGET_BUCKET,
        _emb_lsh_rows,
    )
    from mapreduceapp_spark.plans.registry import get_query

    con = duckdb.connect()
    sweep = [0, 1, 2, 500, EMB_LSH_TARGET_BUCKET - 1, EMB_LSH_TARGET_BUCKET,
             EMB_LSH_TARGET_BUCKET + 1]
    for k in range(1, 26):
        edge = EMB_LSH_TARGET_BUCKET * (2**k)
        sweep += [edge - 1, edge, edge + 1]
    for n in sweep:
        sql_r = con.execute(
            f"SELECT {_EMB_LSH_ROWS_SQL} FROM (SELECT CAST({n} AS BIGINT) AS n)"
        ).fetchone()[0]
        assert sql_r == _emb_lsh_rows(n), (n, sql_r, _emb_lsh_rows(n))
    # the registered oracle embeds exactly this derivation and the
    # masked-bit rendering up to the cap
    from mapreduceapp_spark.operators.similarity import EMB_LSH_R_MAX

    sql = get_query("q_embedding_neardup_lsh").oracle
    assert _EMB_LSH_ROWS_SQL in sql
    assert f"WHEN {EMB_LSH_R_MAX - 1} < r AND" in sql
    assert f"WHEN {EMB_LSH_R_MAX} < r AND" not in sql


def test_emb_lsh_plane_family_is_depth_independent():
    """Plane (band, bit) must be the same vector at every signature
    depth — the property that lets ONE rendered oracle serve all
    scales (the flat-indexed family broke this)."""
    from mapreduceapp_spark.operators.similarity import (
        EMB_LSH_FAMILY,
        _hyperplane_signs,
    )

    shallow = _hyperplane_signs(EMB_LSH_FAMILY[:3], 2)
    deep = _hyperplane_signs(EMB_LSH_FAMILY[:3], 5)
    for b in range(3):
        for p in range(2):
            assert shallow[b * 2 + p] == deep[b * 5 + p], (b, p)


def test_embedding_neardup_lsh_subset_and_planted_recall(spark, tmp_path):
    """Candidate generation is approximate, verification exact: the
    LSH result must be a subset of the exact all-pairs result, and in
    the regime the operator exists for — true near-duplicates with
    cos ≥ 0.99 — banded recall (1-(1-p^4)^16, p ≈ 0.97) must find
    every planted pair. Deterministic: fixed seed + sha256-derived
    hyperplanes."""
    import numpy as np

    from mapreduceapp_spark.plans.registry import get_query

    rng = np.random.RandomState(11)
    base = rng.normal(size=(150, 64)).astype("float32")
    twin = (base + rng.normal(scale=0.02, size=base.shape)).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(150)] + [
        (1000 + i, [float(x) for x in twin[i]]) for i in range(150)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/embeddings.parquet")

    exact = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in get_query("q_embedding_neardup").builder(spark, sf_dir).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in get_query("q_embedding_neardup_lsh")
        .builder(spark, sf_dir)
        .collect()
    }
    assert set(lsh) <= set(exact)
    assert all(lsh[k] == exact[k] for k in lsh)  # verify step is exact
    planted = {(i, 1000 + i) for i in range(150)}
    assert planted <= set(exact)  # sanity: twins really are near-dups
    assert planted <= set(lsh), f"missed {len(planted - set(lsh))} planted pairs"


def test_embedding_neardup_lsh_bucket_bound(spark, sf_dir):
    """The banded fan-out must keep per-(band, signature) bucket sizes
    near N/2^r — the bound that makes per-bucket GEMM work scale.
    With r=4 and random-ish data no bucket should hold more than a
    small multiple of the expected N/16. The buckets are the query's
    own: its plane family and sign kernel."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.operators.similarity import (
        EMB_LSH_FAMILY,
        _emb_lsh_rows,
        _quantized,
        _signatures,
    )

    e = _quantized(spark, sf_dir)
    n = e.count()
    r = _emb_lsh_rows(n)
    counts = (
        e.withColumn("sigs", _signatures(EMB_LSH_FAMILY, r)("qv"))
        .select(F.posexplode("sigs").alias("band", "sig"))
        .groupBy("band", "sig")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    assert counts <= 6 * max(1, n // 2**r), counts



def _planted_with_zero_vector(spark, tmp_path) -> str:
    """An embeddings table of 160 vectors (120 random, 40 near-twins of
    the first 40) plus one all-zero vector; returns its sf_dir."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(5)
    base = rng.normal(size=(120, 64))
    twin = base[:40] + rng.normal(scale=0.05, size=(40, 64))
    vecs = np.concatenate([base, twin, np.zeros((1, 64))]).astype("float32")
    table = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(len(vecs))], pa.int32()),
        }
    )
    pq.write_table(table, f"{tmp_path}/embeddings.parquet")
    return str(tmp_path)


def test_threshold_joins_drop_zero_vector_pairs_like_oracle(spark, tmp_path):
    """An all-zero vector has no cosine: the threshold join scores its
    pairs NaN and keeps none of them, as DuckDB's NULL cosine does, in
    all three queries that share the pair kernel."""
    from mapreduceapp_spark.plans.registry import get_query

    sf_dir = _planted_with_zero_vector(spark, tmp_path)
    for name in (
        "q_embedding_neardup",
        "q_embedding_neardup_lsh",
        "q_semantic_prune",
    ):
        assert_matches_oracle(spark, name, sf_dir)
    pairs = get_query("q_embedding_neardup").builder(spark, sf_dir).collect()
    assert {(i, 120 + i) for i in range(40)} <= {(r.vec_a, r.vec_b) for r in pairs}
    assert all(160 not in (r.vec_a, r.vec_b) for r in pairs)
    prune = get_query("q_semantic_prune").builder(spark, sf_dir).collect()
    assert len(prune) == 161
    assert [r.pruned for r in prune if r.vec_id == 160] == [0]


def test_neardup_rows_are_tiling_invariant(spark, tmp_path, monkeypatch):
    """The tiling changes the task shape, never the rows: each pair is
    owned by exactly one tile whatever the cell count."""
    from mapreduceapp_spark.operators import similarity
    from mapreduceapp_spark.plans.registry import get_query

    sf_dir = _planted_with_zero_vector(spark, tmp_path)
    got = {}
    for nb in (1, 3, 7):
        monkeypatch.setattr(similarity, "_neardup_blocks", lambda n, p, nb=nb: nb)
        df = get_query("q_embedding_neardup").builder(spark, sf_dir)
        got[nb] = sorted(tuple(r) for r in df.collect())
    assert got[1] and got[1] == got[3] == got[7]


def _quantized_vectors(spark, sf_dir):
    from mapreduceapp_spark.sources import tables

    rows = tables(spark, sf_dir).embeddings.select("vec_id", "embedding").collect()
    return {
        r["vec_id"]: [round(float(x) * 1000) for x in r["embedding"]] for r in rows
    }


def test_ann_lsh_recall_on_planted_duplicates(spark, tmp_path):
    """The regime ANN exists for: every vector has a planted
    near-duplicate (tiny perturbation). Multi-probe LSH must place
    the planted twin in the returned top-k for ≳90% of queries while
    scanning a small fraction of buckets."""
    import numpy as np

    from mapreduceapp_spark.operators.similarity import ann_topk, _quantized

    rng = np.random.RandomState(7)
    base = rng.normal(size=(200, 64)).astype("float32")
    twin = (base + rng.normal(scale=0.02, size=base.shape)).astype("float32")
    rows = [
        (i, [float(x) for x in base[i]], 0) for i in range(200)
    ] + [
        (1000 + i, [float(x) for x in twin[i]], 1) for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/embeddings.parquet")

    out = ann_topk(
        _quantized(spark, sf_dir), query_pred="vec_id < 200", k=5
    ).collect()
    found = {
        r["query_id"]
        for r in out
        if r["neighbor_id"] == r["query_id"] + 1000
    }
    assert len(found) >= 0.9 * 200, f"planted-twin recall {len(found)/200:.2f}"


def test_ann_lsh_returns_true_cosines_and_valid_ranks(spark, sf_dir):
    """ANN is approximate in *which* neighbors it returns (bucket
    recall), but every returned (pair, cos, rank) must be internally
    exact: the cosine equals the true cosine, and ranks are dense
    from 1 within each query."""
    from mapreduceapp_spark.plans.registry import get_query

    vecs = _quantized_vectors(spark, sf_dir)
    out = get_query("q_ann_lsh").builder(spark, sf_dir).collect()
    assert len(out) > 0
    by_query: dict[int, list[int]] = {}
    for r in out:
        a, b = vecs[r["query_id"]], vecs[r["neighbor_id"]]
        dot = sum(x * y for x, y in zip(a, b))
        cos = dot / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b)
        )
        assert abs(round(cos, 6) - r["cos"]) < 1e-9
        by_query.setdefault(r["query_id"], []).append(r["rnk"])
    for ranks in by_query.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ann_ivf_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_ann_ivf", sf_dir)


def test_ann_ivf_full_probe_equals_exact_knn(spark, sf_dir):
    """With nprobe = C (probe every inverted list) IVF degenerates to
    exact brute-force search — output must equal q_knn_cosine row for
    row. This pins the assignment/probe/search plumbing to the exact
    baseline; the default-nprobe approximation is then *only* about
    which lists get scanned."""
    from mapreduceapp_spark.operators.similarity import (
        _centroids,
        _ivf_stride,
        _quantized,
        ann_ivf,
    )
    from mapreduceapp_spark.plans.registry import get_query
    from mapreduceapp_spark.sources.parquet import table_row_count

    stride = _ivf_stride(table_row_count(spark, sf_dir, "embeddings"))
    e = _quantized(spark, sf_dir)
    n_cents = _centroids(e, stride).count()
    full = ann_ivf(e, stride, nprobe=n_cents).collect()
    exact = get_query("q_knn_cosine").builder(spark, sf_dir).collect()
    assert sorted(map(tuple, full), key=lambda t: (t[0], t[2])) == sorted(
        map(tuple, exact), key=lambda t: (t[0], t[2])
    )
    assert len(full) == len(exact) > 0


def test_ann_ivf_scans_a_fraction(spark, sf_dir):
    """Default-nprobe IVF must actually prune: candidate rows scored
    per query ≤ nprobe lists' worth of vectors, not the full table."""
    from mapreduceapp_spark.operators.similarity import (
        IVF_NPROBE,
        _centroids,
        _ivf_stride,
        _quantized,
        ann_ivf,
    )
    from mapreduceapp_spark.sources.parquet import table_row_count

    stride = _ivf_stride(table_row_count(spark, sf_dir, "embeddings"))
    e = _quantized(spark, sf_dir)
    n = e.count()
    c = _centroids(e, stride).count()
    out = ann_ivf(e, stride, k=n).collect()  # k=n => every scored candidate returned
    by_query: dict[int, int] = {}
    for r in out:
        by_query[r["query_id"]] = by_query.get(r["query_id"], 0) + 1
    assert by_query, "no queries returned"
    # lists are uneven, but nprobe lists can't cover most of the table
    worst = max(by_query.values())
    assert worst < 0.8 * n, f"scanned {worst}/{n} rows — no pruning happened"
    assert c > IVF_NPROBE, "test premise: more lists than probes"


def test_knn_broadcast_guard(spark, sf_dir, monkeypatch):
    """The broadcast-budget guard must fail the JOB (at action time,
    lazily planned) when the query set exceeds the cap, with a
    message pointing at the IVF path — and must stay invisible when
    under budget. Catalyst column pruning silently removed a
    first-cut standalone assert column; this test pins the
    un-prunable formulation."""
    import pytest

    import mapreduceapp_spark.operators.similarity as sim

    under = sim.q_knn_cosine(spark, sf_dir)
    assert under.count() > 0  # plan builds and runs under budget

    monkeypatch.setattr(sim, "KNN_MAX_BROADCAST_QUERIES", 1)
    over = sim.q_knn_cosine(spark, sf_dir)  # builds fine: guard is lazy
    with pytest.raises(Exception, match="broadcast budget"):
        over.count()


def test_knn_classify_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_knn_classify", sf_dir)


def test_knn_classify_votes_are_complete(spark, sf_dir):
    """Every query vector gets exactly one prediction, and the vote
    count never exceeds k."""
    from mapreduceapp_spark.operators.similarity import KNN_K
    from mapreduceapp_spark.plans.registry import get_query

    rows = get_query("q_knn_classify").builder(spark, sf_dir).collect()
    assert rows
    qids = [r["query_id"] for r in rows]
    assert len(qids) == len(set(qids))
    assert all(1 <= r["n_votes"] <= KNN_K for r in rows)
    assert all(r["hit"] in (0, 1) for r in rows)


def test_ivf_recall_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_ivf_recall", sf_dir)


def test_ivf_recall_bounded_and_consistent(spark, sf_dir):
    """recall@k is in [0,1] per query, and equals n_hit/k exactly."""
    from mapreduceapp_spark.operators.similarity import KNN_K
    from mapreduceapp_spark.plans.registry import get_query

    rows = get_query("q_ivf_recall").builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_hit"] <= KNN_K
        assert r["recall_at_k"] == round(r["n_hit"] / KNN_K, 4)


def test_gemm_cosine_ties_break_to_lower_centroid_id(spark):
    """Tied centroids must go to the LOWER cent_id in both the assign
    and the top-m probe — the rule both SQL oracles encode (ORDER BY
    score, cent_id). Cosine: colinear centroids give bit-equal
    cosines. L2: equidistant centroids give equal int64 distances,
    and three of them tie for the two probe slots."""
    import mapreduceapp_spark.operators.similarity as sim

    vecs = spark.createDataFrame(
        [(1, [1, 0, 0], 1)], "vec_id bigint, x array<bigint>, sq bigint"
    )
    cases = (
        # cid 5 and cid 3 are colinear with the query (cos exactly
        # 1.0); cid 9 is orthogonal (cos 0.0)
        (sim.COSINE, [(5, [1, 0, 0], 1), (3, [2, 0, 0], 4), (9, [0, 1, 0], 1)]),
        # cids 7, 5 and 3 are all at squared distance 1; cid 9 at 16
        (
            sim.L2,
            [(7, [1, 1, 0], 2), (5, [2, 0, 0], 4), (9, [5, 0, 0], 25),
             (3, [0, 0, 0], 0)],
        ),
    )
    for metric, rows in cases:
        cents = spark.createDataFrame(
            rows, "cid bigint, cx array<bigint>, csq bigint"
        )
        out = sim._assign(vecs, cents, metric).collect()
        assert [(r["vec_id"], r["cid"]) for r in out] == [(1, 3)], metric.key

        probes = sim._probe(
            vecs.withColumnRenamed("x", "qv"),
            cents.select(
                cents.cid.alias("cent_id"),
                cents.cx.alias("c_qv"),
                cents.csq.alias("c_sq"),
            ),
            2,
            metric,
        ).collect()
        got = [
            (r["query_id"], r["probe"])
            for r in sorted(probes, key=lambda r: r["probe"])
        ]
        assert got == [(1, 3), (1, 5)], metric.key


def test_lsh_recall_oracle(spark, sf_dir):
    assert_matches_oracle(spark, "q_lsh_recall", sf_dir)


def test_recall_pair_tells_the_index_story(spark, sf_dir):
    """On this corpus (far nearest neighbors) IVF must dominate LSH
    in mean recall — the documented regime claim, now measured by the
    two oracle-checked evaluation queries."""
    from mapreduceapp_spark.plans.registry import get_query

    def mean_recall(q):
        rows = get_query(q).builder(spark, sf_dir).collect()
        return sum(r["recall_at_k"] for r in rows) / len(rows)

    assert mean_recall("q_ivf_recall") > mean_recall("q_lsh_recall")


def test_pq_family_oracle(spark, sf_dir):
    from tests.oracle import assert_matches_oracle

    # (q_pq_recall retired from the registry in r15 — its recall
    # ground truth lives on the oracled aniso twin, q_pq_recall_aniso)
    for name in ("q_knn_l2", "q_pq_ann", "q_pq_rerank_recall"):
        assert_matches_oracle(spark, name, sf_dir)


def test_pq_rerank_dominates_raw_codes(spark, sf_dir):
    """The deployment claim behind the rerank window: for every
    query, rerank(ADC top-R) recall >= raw ADC top-k recall — the
    true top-k found by codes alone are by definition inside the
    R-candidate shortlist, so exact reranking can only add hits."""
    from mapreduceapp_spark.plans.registry import get_query

    from mapreduceapp_spark.operators.similarity import (
        _ISO,
        ADC_PQ,
        _ladder_recall,
    )

    # raw-code recall: the ladder's isotropic × PQ row (unregistered)
    raw = {
        r.query_id: r.n_hit
        for r in _ladder_recall(_ISO, ADC_PQ)(spark, sf_dir).collect()
    }
    rer = {
        r.query_id: r.n_hit
        for r in get_query("q_pq_rerank_recall")
        .builder(spark, sf_dir).collect()
    }
    assert set(raw) == set(rer) and raw
    for qid in raw:
        assert rer[qid] >= raw[qid], (qid, raw[qid], rer[qid])
    # strict improvement is data-dependent (perfect raw recall would
    # leave nothing to add) — require it only when headroom exists
    from mapreduceapp_spark.operators.similarity import KNN_K

    if any(v < KNN_K for v in raw.values()):
        assert sum(rer.values()) > sum(raw.values())  # R>k helps


def test_pq_code_is_argmin_of_subspace_distances(spark, sf_dir):
    """Ground-truth spot check of the encoder, independent of SQL: a
    handful of vectors' codes recomputed in Python (int grid, argmin
    with min-j tiebreak) must equal the plan's codes."""
    from mapreduceapp_spark.functions.vectors import QUANT_SCALE
    from mapreduceapp_spark.operators.similarity import (
        PQ_M,
        PQ_SUBDIM,
        _pq_k,
    )
    from mapreduceapp_spark.sources import tables
    from mapreduceapp_spark.sources.parquet import table_row_count

    e = tables(spark, sf_dir).embeddings
    rows = {r.vec_id: r.embedding for r in e.collect()}
    qv = {
        i: [round(float(x) * QUANT_SCALE) for x in v]
        for i, v in rows.items()
    }
    n = table_row_count(spark, sf_dir, "embeddings")
    k = _pq_k(n)
    stride = max(1, n // k)
    cents = sorted(i for i in qv if i % stride == 0)[:k]

    def code(vec_id, m):
        s = qv[vec_id][m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
        best = None
        for j, cid in enumerate(cents):
            c = qv[cid][m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
            d = sum((a - b) * (a - b) for a, b in zip(s, c))
            if best is None or (d, j) < best:
                best = (d, j)
        return best[1]

    # recompute the plan's codes for 3 vectors via the same pq plan
    from pyspark.sql import functions as F
    from mapreduceapp_spark.operators.similarity import (
        _pq_sub_dist_sql,
        _quantized,
    )
    from pyspark.sql import Window

    qdf = _quantized(spark, sf_dir)
    w_cent = Window.orderBy("vec_id")
    cent = (
        qdf.filter(F.col("vec_id") % stride == 0)
        .select("vec_id", "qv")
        .withColumn("j", F.row_number().over(w_cent) - 1)
        .filter(F.col("j") < k)
    )
    cent_m = cent.select(
        "j", F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"), "qv"
    ).select(
        "m", "j", F.slice("qv", F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("cv")
    )
    some = qdf.filter(F.col("vec_id").isin([1, 7, 13])).select("vec_id", "qv")
    scored = some.crossJoin(F.broadcast(cent_m)).select(
        "vec_id", "m", "j", F.expr(_pq_sub_dist_sql("qv")).alias("d")
    )
    got = {
        (r.vec_id, r.m): r.code
        for r in scored.groupBy("vec_id", "m")
        .agg(F.min(F.struct("d", "j"))["j"].alias("code"))
        .collect()
    }
    for vid in (1, 7, 13):
        for m in range(PQ_M):
            assert got[(vid, m)] == code(vid, m), (vid, m)


def test_normalized_and_ivfpq_oracle(spark, sf_dir):
    # q_pq_recall_normalized left the registry in r14 (folded into
    # its aniso twin, which keeps its own oracle test) — the
    # isotropic normalized lineage stays grid-checked by
    # test_normalized_vectors_are_unit_on_the_grid below.
    from tests.oracle import assert_matches_oracle

    assert_matches_oracle(spark, "q_ivfpq_recall", sf_dir)


def test_normalized_vectors_are_unit_on_the_grid(spark, sf_dir):
    """Every normalized vector's squared norm must sit within the
    rounding band of NORM_SCALE²: per-element rounding error ≤ 0.5,
    so |sq − S²| ≤ dim·S + dim/4 ≈ 64·S (loose bound). Also pins that
    the row count is preserved (footer-derived codebook constants
    depend on it)."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.operators.similarity import (
        NORM_SCALE,
        _l2_normalize,
        _quantized,
    )

    e_n = _l2_normalize(_quantized(spark, sf_dir))
    n0 = _quantized(spark, sf_dir).count()
    stats = e_n.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.abs(F.col("sq") - NORM_SCALE * NORM_SCALE)).alias("dev"),
    ).collect()[0]
    assert stats["n"] == n0
    assert stats["dev"] <= 64 * NORM_SCALE + 16


def test_ivfpq_recall_bounded_by_pq(spark, sf_dir):
    """IVF+PQ scores a SUBSET of PQ's candidates (only probed cells),
    so per query its hit count can never exceed raw PQ's... is false
    in general (ADC ties at the top-k boundary can resolve
    differently when the candidate set shrinks) — but the SUM over
    the fixture queries must stay within one boundary swap, and both
    must stay within [0, k]. The tight claim that IS invariant:
    every IVF+PQ result pair is a (query, neighbor) PQ could also
    have scored — neighbor's cell was probed."""
    from mapreduceapp_spark.operators.similarity import KNN_K
    from mapreduceapp_spark.plans.registry import get_query

    from mapreduceapp_spark.operators.similarity import (
        _ISO,
        ADC_PQ,
        _ladder_recall,
    )

    pq = {
        r.query_id: r.n_hit
        for r in _ladder_recall(_ISO, ADC_PQ)(spark, sf_dir).collect()
    }
    comp = {
        r.query_id: r.n_hit
        for r in get_query("q_ivfpq_recall").builder(spark, sf_dir).collect()
    }
    assert set(pq) == set(comp) and pq
    assert all(0 <= v <= KNN_K for v in comp.values())
    assert sum(comp.values()) <= sum(pq.values()) + 1


def test_ivfpq_residual_oracle_and_candidate_parity(spark, sf_dir):
    """Residual IVFADC matches its oracle, and — since assign/probe
    are identical to the raw-code composition — both variants score
    the SAME candidate pairs; only the ADC values differ."""
    from tests.oracle import assert_matches_oracle

    assert_matches_oracle(spark, "q_ivfpq_residual_recall", sf_dir)
    from mapreduceapp_spark.operators.similarity import KNN_K
    from mapreduceapp_spark.plans.registry import get_query

    res = {
        r.query_id: r.n_hit
        for r in get_query("q_ivfpq_residual_recall")
        .builder(spark, sf_dir).collect()
    }
    raw = {
        r.query_id: r.n_hit
        for r in get_query("q_ivfpq_recall").builder(spark, sf_dir).collect()
    }
    assert set(res) == set(raw) and res
    assert all(0 <= v <= KNN_K for v in res.values())


def test_aniso_ladder_oracles(spark, sf_dir):
    """The four r12 anisotropic-fixture queries match their DuckDB
    twins — the whole ladder stays integer-exact through the
    mid-square fixture derivation (VERDICT r11 ask #1)."""
    from tests.oracle import assert_matches_oracle

    for name in (
        "q_pq_recall_aniso",
        "q_pq_recall_normalized_aniso",
        "q_ivfpq_recall_aniso",
        "q_ivfpq_residual_recall_aniso",
    ):
        assert_matches_oracle(spark, name, sf_dir)


def test_aniso_fixture_geometry(spark, sf_dir):
    """The fixture delivers the geometry the ladder needs: (a) the
    pseudo-random cluster id spreads rows over all ANISO_CLUSTERS
    groups, (b) every query's exact top-1 neighbor is a cluster-mate
    (in-cluster distances ≪ between-cluster), (c) vectors are pure
    int64 (oracle-exactness precondition)."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.operators.similarity import (
        ANISO_CLUSTERS,
        ANISO_GMUL,
        ANISO_GSEED,
        ANISO_PREMOD,
        ANISO_SQMOD,
        L2,
        _aniso,
        knn_topk,
    )

    e = _aniso(spark, sf_dir)
    assert dict(e.dtypes)["qv"] == "array<bigint>"
    h = ((F.col("vec_id") + 1) * ANISO_GMUL + ANISO_GSEED) % ANISO_PREMOD
    g = ((h * h) % ANISO_SQMOD % ANISO_CLUSTERS).alias("g")
    occupancy = e.select(g).distinct().count()
    assert occupancy == ANISO_CLUSTERS
    top1 = (
        knn_topk(e, L2, "aniso_geom").filter(F.col("rnk") == 1)
        .select("query_id", "neighbor_id")
        .collect()
    )
    assert top1

    def cluster(v: int) -> int:
        h = ((v + 1) * ANISO_GMUL + ANISO_GSEED) % 2_147_483_647
        return (h * h) % 1_000_003 % ANISO_CLUSTERS

    for r in top1:
        assert cluster(r["query_id"]) == cluster(r["neighbor_id"]), r


def test_aniso_ladder_orders_the_family(spark, sf_dir):
    """THE r12 deliverable (VERDICT r11 ask #1): on the anisotropic
    fixture the recall axis ranks the family — residual IVFADC beats
    raw-code PQ decisively (measured +0.10 at N=500, +0.25 at
    N=2000), where the r11 isotropic fixture showed parity. Pinned
    as a strict per-fixture total-hits inequality with daylight (≥ 2
    extra hits), not a float tolerance."""
    from mapreduceapp_spark.plans.registry import get_query

    raw = sum(
        r.n_hit
        for r in get_query("q_pq_recall_aniso").builder(spark, sf_dir).collect()
    )
    res = sum(
        r.n_hit
        for r in get_query("q_ivfpq_residual_recall_aniso")
        .builder(spark, sf_dir)
        .collect()
    )
    assert res >= raw + 2, (raw, res)


def test_aniso_empty_embedding_yields_empty_qv(spark):
    """ADVICE r12 (low): Spark's sequence(0, -1) is a descending
    [0, -1] while DuckDB's generate_series(0, -1) is [] — a
    zero-length embedding must derive an EMPTY fixture vector in both
    engines or the ladder's integer-exact oracle parity silently
    breaks on degenerate rows."""
    from mapreduceapp_spark.operators.similarity import _aniso_from

    e = spark.createDataFrame(
        [(0, [0.1] * 64), (1, [])], "vec_id long, embedding array<double>"
    )
    rows = {r["vec_id"]: r for r in _aniso_from(e).collect()}
    assert len(rows[0]["qv"]) == 64
    assert rows[1]["qv"] == [] and rows[1]["sq"] == 0


def test_opq_rung_oracle(spark, sf_dir):
    """The r13 OPQ rotation rung stays integer-exact through the
    permutation (VERDICT r12 ask #5)."""
    from tests.oracle import assert_matches_oracle

    assert_matches_oracle(spark, "q_opq_recall_aniso", sf_dir)


def test_opq_residual_rung_oracle(spark, sf_dir):
    """The r14-registered composition rung's declared oracle (the
    residual IVFADC SQL over the OPQ-permuted source) hash-matches —
    the same check the driver runs, pinned in pytest so regressions
    in the shared staged slots surface here first (VERDICT r13
    "What's wrong" #2)."""
    from tests.oracle import assert_matches_oracle

    assert_matches_oracle(spark, "q_opq_residual_recall_aniso", sf_dir)


def test_opq_permutation_preserves_exact_knn(spark, sf_dir):
    """The transpose permutation is orthogonal: exact L2 kNN over the
    permuted fixture equals kNN over the original row-for-row — the
    invariance that lets q_opq_recall_aniso reuse the shared
    unpermuted ground-truth slot."""
    from mapreduceapp_spark.operators.similarity import (
        L2,
        _aniso,
        _opq_permute,
        knn_topk,
    )

    e = _aniso(spark, sf_dir)
    base = sorted(
        map(tuple, knn_topk(e, L2, "opq_inv_base").collect())
    )
    perm = sorted(
        map(tuple, knn_topk(_opq_permute(e), L2, "opq_inv_perm").collect())
    )
    assert base == perm and base


def test_opq_rung_beats_raw_allocation(spark, sf_dir):
    """The r13 finding: the raw-vs-residual gap was mostly an
    ALLOCATION artifact. Transpose-permuting one high-noise dim into
    each subspace lifts raw PQ 0.48→0.56 (N=500) and 0.30→0.565
    (N=2000) — pinned like the residual rung, as a strict total-hits
    inequality with daylight."""
    from mapreduceapp_spark.plans.registry import get_query

    raw = sum(
        r.n_hit
        for r in get_query("q_pq_recall_aniso").builder(spark, sf_dir).collect()
    )
    opq = sum(
        r.n_hit
        for r in get_query("q_opq_recall_aniso").builder(spark, sf_dir).collect()
    )
    assert opq >= raw + 2, (raw, opq)


def test_knn_l2_gemm_equals_sql(spark, sf_dir):
    """The ANN_GEMM_MIN_ROWS regime gate swaps plans, never answers:
    the fragment-replicate GEMM exact-kNN (corpus regime) must emit
    row-identical (query_id, neighbor_id, rnk, l2sq) to the
    broadcast-join + window form (fixture regime), including the
    (l2sq, neighbor_id) tie rule — over BOTH geometries (quantized
    uniform and the clustered aniso fixture). N=500 over 32 hash
    groups also exercises fragments smaller than k (sentinel rows
    must be dropped, not emitted)."""
    from mapreduceapp_spark.operators.similarity import (
        ANN_GEMM_MIN_ROWS,
        L2,
        _aniso,
        _quantized,
        knn_topk,
    )

    for mk in (_quantized, _aniso):
        e = mk(spark, sf_dir)
        sql_rows = sorted(
            map(tuple, knn_topk(e, L2, "gate_sql", n_rows=None).collect())
        )
        gemm_rows = sorted(
            map(
                tuple,
                knn_topk(e, L2, "gate_gemm", n_rows=ANN_GEMM_MIN_ROWS).collect(),
            )
        )
        assert sql_rows == gemm_rows and sql_rows, mk.__name__


def test_pq_codes_gemm_equals_sql(spark, sf_dir):
    """Same gate contract for the encode: the per-(group, subspace)
    int64 matmul argmin must assign every vector the same code as the
    crossJoin + min(struct(d, j)) form — first-min argmin over
    ascending-j columns reproduces the low-j tie rule exactly."""
    from mapreduceapp_spark.operators.similarity import (
        ANN_GEMM_MIN_ROWS,
        _pq_centroid_slices,
        _pq_codes,
        _pq_k,
        _quantized,
    )
    from mapreduceapp_spark.sources.parquet import table_row_count

    e = _quantized(spark, sf_dir)
    n = table_row_count(spark, sf_dir, "embeddings")
    k = _pq_k(n)
    cent_m = _pq_centroid_slices(e, k, max(1, n // k))
    sql_rows = sorted(map(tuple, _pq_codes(e, cent_m, n_rows=None).collect()))
    gemm_rows = sorted(
        map(tuple, _pq_codes(e, cent_m, n_rows=ANN_GEMM_MIN_ROWS).collect())
    )
    assert sql_rows == gemm_rows and sql_rows


def test_knn_l2_gemm_budget_guard(spark, sf_dir, monkeypatch):
    """The lazy broadcast-budget guard survives the GEMM re-plan:
    query_id carries the folded raise_error through the replicate
    projection, so an over-budget query set still fails the JOB (not
    the build) with the same message."""
    import pytest

    import mapreduceapp_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "KNN_MAX_BROADCAST_QUERIES", 1)
    over = sim.knn_topk(
        sim._quantized(spark, sf_dir),
        sim.L2,
        "gate_guard",
        n_rows=sim.ANN_GEMM_MIN_ROWS,
    )  # builds fine: guard is lazy
    with pytest.raises(Exception, match="broadcast budget"):
        over.count()


def test_knn_cosine_gemm_equals_sql(spark, sf_dir):
    """Cosine twin of the gate contract: float parity requires the
    GEMM to replay cosine()'s exact op sequence (int64 dot → double,
    divided by sqrt of the DOUBLE product of the cast norms) and to
    defer the 6-decimal round to the same final JVM projection — so
    even the emitted float is bit-identical, not just the ranking."""
    from mapreduceapp_spark.operators.similarity import (
        ANN_GEMM_MIN_ROWS,
        COSINE,
        _quantized,
        knn_topk,
    )

    e = _quantized(spark, sf_dir)
    sql_rows = sorted(
        map(tuple, knn_topk(e, COSINE, "cgate_sql", n_rows=None).collect())
    )
    gemm_rows = sorted(
        map(
            tuple,
            knn_topk(e, COSINE, "cgate_gemm", n_rows=ANN_GEMM_MIN_ROWS).collect(),
        )
    )
    assert sql_rows == gemm_rows and sql_rows


@pytest.mark.slow
def test_gemm_chunked_merge_matches(spark, sf_dir, monkeypatch):
    """The selection's running merge across candidate chunks is the
    subtlest code path and never triggers at fixture scale (fragments
    ≪ GEMM_CHUNK_ROWS) — force 7-row chunks so every group merges
    several partial blocks (incl. sentinel-padded ones): the exact kNN
    (int64 L2 and float cosine merges) against its SQL plan, and the
    assign (top-1) and probe (top-IVF_NPROBE) against their own
    unchunked results, over the ~10 stride-sampled centroids."""
    import mapreduceapp_spark.operators.similarity as sim

    e = sim._quantized(spark, sf_dir)
    n = e.count()
    cents = sim._centroids(e, sim._ivf_stride(n))
    queries = e.filter(sim.KNN_QUERY_PRED)
    rows = e.select("vec_id", "qv", "sq")
    cand = cents.selectExpr("cent_id AS cid", "c_qv", "c_sq")

    def cells():
        out = {}
        for m in (sim.L2, sim.COSINE):
            out[m.key, "assign"] = sorted(
                map(tuple, sim._assign(rows, cand, m).drop("qv").collect())
            )
            out[m.key, "probe"] = sorted(
                map(
                    tuple,
                    sim._probe(queries, cents, sim.IVF_NPROBE, m)
                    .select("query_id", "probe")
                    .collect(),
                )
            )
        return out

    unchunked = cells()
    monkeypatch.setattr(sim, "GEMM_CHUNK_ROWS", 7)
    assert cells() == unchunked and all(unchunked.values())
    for m in (sim.L2, sim.COSINE):
        sql_rows = sorted(
            map(tuple, sim.knn_topk(e, m, f"chunk_{m.key}_sql").collect())
        )
        gemm_rows = sorted(
            map(
                tuple,
                sim.knn_topk(e, m, f"chunk_{m.key}_gemm", n_rows=10**9).collect(),
            )
        )
        assert sql_rows == gemm_rows and sql_rows, m.key


def _nn_case(kernel: str, e, metric):
    """The (vec_id, qv, sq) frame ``e`` through one nearest-neighbour
    kernel: the exact kNN's GEMM plan, or the assign or the probe with
    ``e``'s own rows as the centroids."""
    import mapreduceapp_spark.operators.similarity as sim

    if kernel == "knn":
        return sim.knn_topk(e, metric, f"nn_{metric.key}", n_rows=10**9)
    cents = e.selectExpr("vec_id AS cent_id", "qv AS c_qv", "sq AS c_sq")
    if kernel == "assign":
        return sim._assign(e, cents, metric)
    return sim._probe(e, cents, sim.IVF_NPROBE, metric)


# the kNN case runs the GEMM plan over 10**9 footer rows' worth of
# hash groups (slow); the assign and probe cases take the default gate
_NN_KERNELS = [pytest.param("knn", marks=pytest.mark.slow), "assign", "probe"]


@pytest.mark.parametrize("kernel", _NN_KERNELS)
def test_knn_cosine_zero_norm_fails_on_both_plans(spark, kernel):
    """Under ANSI mode (the session default) a zero-norm vector makes
    the codegen cosine a DIVIDE_BY_ZERO job failure; every GEMM kernel
    must fail the same way — loudly — rather than silently ranking
    or dropping a NaN cosine."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.functions.vectors import sq_norm_sql
    from mapreduceapp_spark.operators.similarity import COSINE, knn_topk

    if kernel == "knn":
        rows = [(0, [0] * 64), (1, [1] * 64), (2, [2] * 64), (3, [5] * 64)]
    else:
        rows = [(0, [0] * 64), (1, [1] * 64), (2, [2] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    e = df.withColumn("sq", F.expr(sq_norm_sql("qv")))
    if kernel == "knn":
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            knn_topk(e, COSINE, "z_sql", n_rows=None).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _nn_case(kernel, e, COSINE).collect()


@pytest.mark.parametrize("kernel", _NN_KERNELS)
def test_knn_l2_gemm_overflow_guard(spark, kernel):
    """Components past the int64 distance headroom make the GEMM
    KERNEL raise (numpy would silently wrap where the ANSI codegen
    form fails loudly).

    Components at 3e8 thread the needle: sq = 64·9e16 ≈ 5.8e18 fits
    int64 (the JVM-side sq_norm succeeds) while 3e8 > the kernel's
    1.89e8 bound, so the raise below can only come from the kernel
    (at 10**9 the JVM would overflow first and the kernel's guard
    would never run); 2⟨x,c⟩ ≈ 1.15e19 > 2^63 would wrap."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.functions.vectors import sq_norm_sql
    from mapreduceapp_spark.operators.similarity import L2

    big = 3 * 10**8  # sq fits int64; > 1.89e8 kernel headroom bound
    rows = [(0, [big] * 64), (1, [1] * 64), (2, [2] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    e = df.withColumn("sq", F.expr(sq_norm_sql("qv")))
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        _nn_case(kernel, e, L2).collect()


@pytest.mark.slow
def test_knn_l2_gemm_headroom_boundary_exact(spark):
    """The guard fires BEFORE, not after, the first value that could
    wrap: components at exactly ±189,000,000 (the documented bound)
    must pass the kernel AND bit-match the codegen twin — the worst
    distance 4·64·B² ≈ 9.14e18 still fits int64 — while one component
    at bound+1 must raise, even though that particular datum would not
    yet wrap (the guard is a conservative component bound by design)."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.functions.vectors import sq_norm_sql
    from mapreduceapp_spark.operators.similarity import L2, knn_topk

    b = 189_000_000
    rows = [(0, [b] * 64), (1, [-b] * 64), (2, [1] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    e = df.withColumn("sq", F.expr(sq_norm_sql("qv")))
    sql_rows = sorted(
        map(tuple, knn_topk(e, L2, "hb_sql", n_rows=None).collect())
    )
    gemm_rows = sorted(
        map(tuple, knn_topk(e, L2, "hb_gemm", n_rows=10**9).collect())
    )
    assert sql_rows == gemm_rows and sql_rows

    rows_over = [(0, [b + 1] + [b] * 63), (1, [-b] * 64), (2, [1] * 64)]
    df_o = spark.createDataFrame(rows_over, "vec_id long, qv array<long>")
    e_o = df_o.withColumn("sq", F.expr(sq_norm_sql("qv")))
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        knn_topk(e_o, L2, "hb_gemm_over", n_rows=10**9).collect()


@pytest.mark.parametrize("kernel", _NN_KERNELS)
def test_knn_cosine_gemm_overflow_guard(spark, kernel):
    """The cosine headroom guard: a single 10**9 component keeps
    sq ≈ 1e18 (JVM sq_norm succeeds) but exceeds the 3.79e8
    dot-product component bound, so the raise can only come from the
    kernel — without it numpy would wrap silently for an externally
    supplied sq."""
    from pyspark.sql import functions as F

    from mapreduceapp_spark.functions.vectors import sq_norm_sql
    from mapreduceapp_spark.operators.similarity import COSINE

    rows = [(0, [10**9] + [1] * 63), (1, [1] * 64), (2, [2] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    e = df.withColumn("sq", F.expr(sq_norm_sql("qv")))
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        _nn_case(kernel, e, COSINE).collect()


def test_pq_codes_gemm_codebook_guard(spark):
    """The encode kernel's headroom check covers the CODEBOOK side
    too (ADVICE r13): every in-repo caller samples centroids from the
    same frame, so an over-bound centroid's source row used to fail
    its own group's X check — an implicit cross-function coupling. An
    externally-trained codebook with a 10**9 component must raise in
    the kernel even when every vector is in-bound."""
    import pytest

    from mapreduceapp_spark.operators.similarity import _pq_codes_gemm

    e = spark.createDataFrame(
        [(0, [1] * 64), (1, [2] * 64)], "vec_id long, qv array<long>"
    )
    cent = spark.createDataFrame(
        [(m, 0, [10**9] * 8) for m in range(8)],
        "m int, j int, cv array<long>",
    )
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        _pq_codes_gemm(e, cent).collect()


def test_fragment_replicate_group_count(spark, monkeypatch):
    """The fragment frame's group count scales with the big side's
    row count: the parallelism floor alone when n_rows is small/None,
    ceil(n_rows / FRAGMENT_GROUP_ROWS) when the memory ceiling binds —
    so per-task input stays ~constant in N. P is observable as the
    small side's replica count (one row per pid). The assign builds
    its frame by the same rule."""
    import mapreduceapp_spark.operators.similarity as sim
    from mapreduceapp_spark.operators.similarity import (
        FRAGMENT_GROUP_ROWS,
        _fragment_replicate,
    )

    big = spark.createDataFrame([(1, 2)], "k long, v long")
    small = spark.createDataFrame([(9,)], "w long")
    floor = max(32, spark.sparkContext.defaultParallelism)

    def p_for(n_rows):
        u = _fragment_replicate(
            big, small, "t:", [("k", "long"), ("v", "long")],
            [("w", "long")], "k", n_rows=n_rows,
        )
        return u.filter("side = 1").count()

    assert p_for(None) == floor
    assert p_for(100) == floor  # ceiling far from binding
    n_big = FRAGMENT_GROUP_ROWS * 1000  # 32.8M rows → 1000 groups
    assert p_for(n_big) == max(floor, 1000)

    frames = []

    def spy(*args, **kwargs):
        frames.append(_fragment_replicate(*args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(sim, "_fragment_replicate", spy)
    vecs = spark.createDataFrame(
        [(1, [1, 0], 1)], "vec_id long, x array<long>, sq long"
    )
    cents = spark.createDataFrame(
        [(7, [0, 1], 1)], "cid long, cx array<long>, csq long"
    )
    for n_rows, want in ((None, floor), (100, floor), (n_big, max(floor, 1000))):
        sim._assign(vecs, cents, sim.L2, n_rows)
        assert frames[-1].filter("side = 1").count() == want, n_rows


def test_metric_block_equals_sql(spark):
    """Each metric's numpy block score equals its Spark SQL score bit
    for bit on every (row, candidate) pair — the parity every GEMM
    plan's row-equality with its SQL plan and its DuckDB oracle rests
    on. The rational candidates are a mean's int sums and count."""
    import numpy as np

    import mapreduceapp_spark.operators.similarity as sim

    rng = np.random.default_rng(7)
    X = rng.integers(-30_000, 30_000, (6, 64))
    C = rng.integers(-30_000, 30_000, (5, 64))
    xn = (X * X).sum(axis=1)
    for metric in (sim.L2, sim.COSINE, sim.RATIONAL_L2):
        cn = rng.integers(1, 9, 5) if metric.wide else (C * C).sum(axis=1)
        rows = spark.createDataFrame(
            [(i, X[i].tolist(), int(xn[i])) for i in range(len(X))],
            "i long, q_qv array<long>, q_sq long",
        )
        cands = spark.createDataFrame(
            [(j, C[j].tolist(), int(cn[j])) for j in range(len(C))],
            "j long, qv array<long>, sq long",
        )
        got = {
            (r["i"], r["j"]): r["s"]
            for r in rows.crossJoin(cands)
            .selectExpr("i", "j", f"{metric.sql} AS s")
            .collect()
        }
        want = metric.block(X, xn, C, cn)
        assert len(got) == want.size
        for (i, j), v in got.items():
            assert v == want[i, j], (metric.key, i, j, v, want[i, j])


@pytest.mark.slow
def test_pq_codes_gemm_headroom_boundary_exact(spark):
    """Encode twin of the kNN boundary pin (VERDICT r13 ask #8):
    components at exactly ±536,000,000 pass (worst sub-distance
    4·8·B² ≈ 9.19e18 fits int64) and bit-match the codegen form;
    one component at bound+1 raises."""
    import pytest

    from mapreduceapp_spark.operators.similarity import _pq_codes

    b = 536_000_000
    e = spark.createDataFrame(
        [(0, [b] * 64), (1, [-b] * 64), (2, [7] * 64)],
        "vec_id long, qv array<long>",
    )
    cent = spark.createDataFrame(
        [(m, j, [v] * 8) for m in range(8) for j, v in ((0, b), (1, -b))],
        "m int, j int, cv array<long>",
    )
    sql_rows = sorted(map(tuple, _pq_codes(e, cent, n_rows=None).collect()))
    gemm_rows = sorted(map(tuple, _pq_codes(e, cent, n_rows=10**9).collect()))
    assert sql_rows == gemm_rows and sql_rows

    e_o = spark.createDataFrame(
        [(0, [b + 1] + [b] * 63), (1, [7] * 64)],
        "vec_id long, qv array<long>",
    )
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        _pq_codes(e_o, cent, n_rows=10**9).collect()


def test_opq_residual_composition_rung(spark, sf_dir):
    """The composition rung (registered r14 as
    q_opq_residual_recall_aniso): balanced allocation + residual
    codebooks must beat BOTH single-lever rungs with daylight —
    measured 0.68 vs 0.58/0.56 at N=500 (and 0.84 vs 0.555/0.565 at
    N=2000). Pinned as strict total-hit inequalities like the other
    ladder pins."""
    from mapreduceapp_spark.plans.registry import get_query

    both = sum(
        r.n_hit
        for r in get_query("q_opq_residual_recall_aniso")
        .builder(spark, sf_dir)
        .collect()
    )
    residual_only = sum(
        r.n_hit
        for r in get_query("q_ivfpq_residual_recall_aniso")
        .builder(spark, sf_dir)
        .collect()
    )
    opq_only = sum(
        r.n_hit
        for r in get_query("q_opq_recall_aniso").builder(spark, sf_dir).collect()
    )
    assert both >= residual_only + 2, (both, residual_only)
    assert both >= opq_only + 2, (both, opq_only)


# (row count, sum(n_hit)) per ADC-family query at sf0.001 — sum(adc)
# for q_pq_ann, which returns neighbors, not recall. A change that
# moves a Spark plan and its composed oracle together passes the
# oracle check; it cannot pass these pins.
_ADC_FAMILY_SF0001 = {
    "q_ivfpq_recall": (5, 10),
    "q_ivfpq_residual_recall": (5, 9),
    "q_pq_recall_aniso": (5, 24),
    "q_pq_recall_normalized_aniso": (5, 27),
    "q_ivfpq_recall_aniso": (5, 24),
    "q_ivfpq_residual_recall_aniso": (5, 29),
    "q_opq_recall_aniso": (5, 28),
    "q_opq_residual_recall_aniso": (5, 34),
    "q_pq_ann": (50, 58_133_561),
    "q_pq_rerank_recall": (5, 31),
    "q_ann_index_probe": (5, 34),
}


@pytest.mark.parametrize("name", sorted(_ADC_FAMILY_SF0001))
def test_adc_family_pinned_results(spark, sf_dir, name):
    from mapreduceapp_spark.plans.registry import get_query

    if not sf_dir.rstrip("/").endswith("sf0.001"):
        pytest.skip("pins are recorded at sf0.001")
    rows = get_query(name).builder(spark, sf_dir).collect()
    col = "adc" if name == "q_pq_ann" else "n_hit"
    assert (len(rows), sum(r[col] for r in rows)) == _ADC_FAMILY_SF0001[name]
