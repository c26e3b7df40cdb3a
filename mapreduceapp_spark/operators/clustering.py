"""Embedding-space clustering for corpus curation (SURVEY.md §2.C
family — the model-based sibling of the C2/C3 vector operators).

Large-scale pipelines cluster document embeddings to balance topical
coverage, find semantic outliers, and drive cluster-aware sampling
(e.g. SemDeDup-style pruning). The engine implements Lloyd's k-means
with a FIXED number of rounds as a single declarative plan — no
driver loop, no collected model — which keeps the whole algorithm
lazy, optimizer-visible, and (unusually for an ML op) bit-for-bit
checkable against a SQL oracle.

Determinism design (see functions/vectors.py conventions):
- round 1 distances are pure int64: d(x,c) = |x|² − 2⟨x,c⟩ + |c|²
  over the engine's exact quantized vectors;
- round 2 centroids are rational means (int sum / int count); the
  distance fold Σ(x_i − s_i/c)² runs in index order via
  ``aggregate``/``list_reduce``, so both engines execute the same
  IEEE operations in the same order — +,−,×,÷ are correctly rounded,
  hence bit-identical (no transcendentals anywhere);
- every argmin carries a centroid-id tiebreak.

The reference has no analog (operator surface A1–A9,
``MapReduceFramework.cpp:1-383``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceapp_spark.functions.vectors import (
    oracle_cosine,
    oracle_quantize,
    quantize_sql,
    sq_norm_sql,
)
from mapreduceapp_spark.operators.similarity import (
    L2,
    RATIONAL_L2,
    _assign,
    _threshold_pairs,
    _tile_keys,
    _tile_owner,
)
from mapreduceapp_spark.plans.registry import register
from mapreduceapp_spark.plans.staging import slot, stage
from mapreduceapp_spark.sources import tables

EMB_DIM = 64
# Seeds are a deterministic 1-in-stride sample (the IVF centroid
# convention, similarity.py): no training job, no stored model, and
# the seeding is reproducible on any engine. The stride is DERIVED
# from the table's row count at the k ≈ √N balance (round 7 — the
# same treatment that retired q_ann_ivf's quadratic): a FIXED stride
# makes k = N/stride ∝ N, so Lloyd assignment costs N·k = N²/stride
# multiply-adds AND SemDeDup's within-cluster pair work is what the
# sub-cell cap must tame; at stride ≈ √N, assignment is N^1.5 and
# average cluster size is √N — the total-work optimum for the
# assign+prune pipeline. Floored at KM_MIN_STRIDE so small corpora
# keep enough members per cluster; the floor binds at every
# oracle/bench scale (N ≤ KM_MIN_STRIDE² = 10⁴), making the rework
# bit-identical there. The SQL oracle derives the identical stride
# from count(*) with the same IEEE floor∘sqrt expression (parity
# pinned cross-engine in tests/test_similarity.py for the shared
# formula).
KM_MIN_STRIDE = 100
KM_OFFSET = 13


def _km_stride(n_rows: int) -> int:
    import math

    return max(KM_MIN_STRIDE, int(math.floor(math.sqrt(n_rows))))


def _oracle_fold_dist(x: str, mean_num: str, cnt: str) -> str:
    """Σ_i (x_i − s_i/c)² folded in index order (DuckDB twin of the
    Spark ``aggregate(zip_with(...))`` fold)."""
    term = (
        f"(({x})[i]::DOUBLE - ({mean_num})[i]::DOUBLE / ({cnt}))"
        f" * (({x})[i]::DOUBLE - ({mean_num})[i]::DOUBLE / ({cnt}))"
    )
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(generate_series(1, {EMB_DIM}), i -> {term})), "
        f"(a, b) -> a + b)"
    )


# Shared oracle CTE chain ending at a2(vec_id, cid) — the two-round
# assignment. Reused by q_kmeans (membership stats) and
# q_semantic_prune (within-cluster dedup).
ORACLE_ASSIGN_CTES = f"""
        km_params AS (
            SELECT greatest({KM_MIN_STRIDE},
                            CAST(floor(sqrt(CAST(count(*) AS DOUBLE)))
                                 AS BIGINT)) AS stride
            FROM embeddings
        ),
        q AS MATERIALIZED (
            SELECT vec_id, {oracle_quantize('embedding')} AS x
            FROM embeddings
        ),
        qs AS MATERIALIZED (
            SELECT vec_id, x,
                   list_reduce(list_prepend(0::BIGINT,
                       list_transform(x, v -> v * v)), (a, b) -> a + b) AS sq
            FROM q
        ),
        c0 AS MATERIALIZED (
            SELECT vec_id AS cid, x AS cx, sq AS csq FROM qs
            WHERE vec_id % (SELECT stride FROM km_params) = {KM_OFFSET}
        ),
        d1 AS (
            SELECT qs.vec_id, qs.x, c0.cid,
                   qs.sq - 2 * list_reduce(list_prepend(0::BIGINT,
                       list_transform(generate_series(1, {EMB_DIM}),
                                      i -> qs.x[i] * c0.cx[i])),
                       (a, b) -> a + b) + c0.csq AS dist,
                   row_number() OVER (PARTITION BY qs.vec_id
                                      ORDER BY qs.sq - 2 * list_reduce(
                                          list_prepend(0::BIGINT,
                                          list_transform(generate_series(1, {EMB_DIM}),
                                                         i -> qs.x[i] * c0.cx[i])),
                                          (a, b) -> a + b) + c0.csq,
                                      c0.cid) AS rn
            FROM qs CROSS JOIN c0
        ),
        a1 AS MATERIALIZED (
            SELECT vec_id, x, cid FROM d1 WHERE rn = 1
        ),
        msum AS MATERIALIZED (
            SELECT cid, i, CAST(sum(x[i]) AS BIGINT) AS s
            FROM a1 CROSS JOIN generate_series(1, {EMB_DIM}) t(i)
            GROUP BY cid, i
        ),
        m1 AS MATERIALIZED (
            SELECT msum.cid, cnt.c,
                   list(msum.s ORDER BY msum.i) AS sx
            FROM msum
            JOIN (SELECT cid, count(*) AS c FROM a1 GROUP BY cid) cnt
              ON cnt.cid = msum.cid
            GROUP BY msum.cid, cnt.c
        ),
        d2 AS (
            SELECT a1.vec_id, m1.cid,
                   row_number() OVER (PARTITION BY a1.vec_id
                                      ORDER BY {_oracle_fold_dist('a1.x', 'm1.sx', 'm1.c')},
                                               m1.cid) AS rn
            FROM a1 CROSS JOIN m1
        ),
        a2 AS MATERIALIZED (
            SELECT vec_id, cid FROM d2 WHERE rn = 1
        )
"""


@register(
    "q_kmeans",
    oracle=f"""
        WITH {ORACLE_ASSIGN_CTES}
        SELECT cid AS cluster_id,
               count(*) AS n_members,
               min(vec_id) AS min_member_id
        FROM a2 GROUP BY cid
    """,
    doc="k-means (2 Lloyd rounds) over embeddings, as one declarative plan.",
)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, two rounds, as one lazy DataFrame plan:

    1. *Seed* — centroids are the deterministic 1-in-stride sample
       at the k ≈ √N balance (see the ``_km_stride`` note).
    2. *Assign (int)* — fragment-replicate Arrow GEMM
       (similarity ``_assign``, metric ``L2``): each vector keeps its
       argmin squared-Euclidean centroid on the exact integer distance
       |x|² − 2⟨x,c⟩ + |c|². No N·k row set ever materializes (a
       broadcast-join fan-out of N·k rows is quadratic when k ∝ N).
    3. *Update* — per-cluster mean as (per-dim int sums, count): 64
       ``sum`` columns, all partial-aggregated map-side; k rows out.
    4. *Re-assign (rational)* — the same GEMM with metric
       ``RATIONAL_L2``, the exact-rational distance Σ(x_i − s_i/c)²
       folded in index order for bit-parity with the SQL oracle;
       argmin with cid tiebreak.
    5. Emit per-cluster membership stats.

    More rounds = repeat steps 3–4; two rounds keeps the demo plan
    readable while exercising both the integer and the rational
    distance paths. At 100 TB: the only N-sized shuffles are the two
    assignment hashes (N + P·k rows each); centroid state (k×64
    ints) replicates per fragment. k ≈ √N balances assign compute
    (N·k ≈ N^1.5 multiply-adds — a fixed stride's k ∝ N made this
    N²/stride, retired round 7) against SemDeDup's within-cluster
    pair work (clusters average √N members, absorbed by the sub-cell
    cap past ~10⁶ rows); a hierarchical coarse→fine assignment —
    only the assign's centroid input changes — remains the rung
    beyond that.

    Floats appear only in round 2's distance: means are exact
    rationals and the fold does identically-ordered IEEE arithmetic
    on both engines — no transcendentals — so even the argmin over
    doubles is bit-stable (plus a cid tiebreak for true ties).
    """
    # same stage slot+plan as q_semantic_prune: the two Lloyd rounds
    # run once per process, whichever consumer executes first
    return (
        slot(spark, "kmeans_assign", sf_dir, lambda: kmeans_assign(spark, sf_dir))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("min_member_id"),
        )
    )


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, x, sq, cluster_id) after the two Lloyd rounds — the
    shared assignment plan behind :func:`q_kmeans` (membership stats)
    and :func:`q_semantic_prune` (within-cluster dedup). Both rounds'
    argmins run as fragment-replicate GEMMs (similarity ``_assign``);
    the centroid-update aggregate stays a JVM map-side partial agg."""
    from mapreduceapp_spark.sources.parquet import table_row_count

    n = table_row_count(spark, sf_dir, "embeddings")
    stride = _km_stride(n)
    e = tables(spark, sf_dir).embeddings
    qs = e.selectExpr(
        "vec_id", f"{quantize_sql('embedding')} AS x"
    ).selectExpr("*", f"{sq_norm_sql('x')} AS sq")
    c0 = qs.filter(f"vec_id % {stride} = {KM_OFFSET}").select(
        F.col("vec_id").alias("cid"),
        F.col("x").alias("cx"),
        F.col("sq").alias("csq"),
    )
    a1 = _assign(qs, c0, L2, n)
    # (cid, sx, c): the rational mean's int sums and count, in the
    # (id, vector, norm) places of an assign candidate
    m1 = a1.groupBy("cid").agg(
        F.array(
            *[F.sum(F.element_at("x", i + 1)).alias(f"s{i}") for i in range(EMB_DIM)]
        ).alias("sx"),
        F.count(F.lit(1)).alias("c"),
    )
    return _assign(
        a1.select("vec_id", "x", "sq"), m1, RATIONAL_L2, n
    ).withColumnRenamed("cid", "cluster_id")


SEM_COS_THRESHOLD = 0.45  # the corpus' measured cosine-gap threshold
# (same gap q_embedding_neardup uses, operators/similarity.py) so the
# within-cluster comparisons cannot flicker between engines.

# Clusters larger than this are split into hash sub-cells before the
# within-cluster self-join, bounding any single join key's pair work
# to ~(2·cap)² regardless of how pathological the cluster is. With
# the √N seed stride clusters average √N members: below the cap until
# N ≈ 10⁶, after which the sub-cells activate BY DESIGN (m ≈ √N/cap
# cells per cluster keep per-key work constant) — the same mechanism
# that previously only handled skew now also absorbs the balanced
# growth, so per-task memory stays bounded at any scale.
SEM_CLUSTER_CAP = 1024


def _replicate_cells(assigned: DataFrame, cap: int) -> DataFrame:
    """(cluster_id, vec_id, qv, sq, cell, k1, k2): the within-cluster
    tiling (:func:`~mapreduceapp_spark.operators.similarity._tile_keys`)
    of the (vec_id, x, sq, cluster_id) assignment, the skew mitigation
    for a self-join's pair space (AQE's skew-join salting, applied to
    pairs). A cluster of n_c members hashes into m = ⌈n_c / cap⌉ cells,
    so a (cluster, k1, k2) key holds ≤ 2·n_c/m ≈ 2·cap rows and
    ~(2·cap)² pair work over m(m+1)/2 keys. A cluster of at most cap
    members is one (0, 0) key: the plan is unchanged where there is no
    skew."""
    sizes = assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_c"))
    member = assigned.join(F.broadcast(sizes), "cluster_id").selectExpr(
        "cluster_id", "vec_id", "x AS qv", "sq", f"ceil(n_c / {cap}) AS m"
    )
    return _tile_keys(member, "pmod(xxhash64('semcell:', vec_id), m)", "m").drop("m")


def _within_cluster_pruned(assigned: DataFrame, cap: int = SEM_CLUSTER_CAP) -> DataFrame:
    """Distinct vec_ids with a lower-id same-cluster member at cosine
    ≥ SEM_COS_THRESHOLD: the higher id of every pair the cosine
    threshold join (similarity ``_threshold_pairs``) finds on the
    :func:`_replicate_cells` tiling. Its cosine is the exact-int64-dot
    / √(sq·sq) double the SQL oracle computes, so results are
    bit-identical."""
    return (
        _threshold_pairs(
            _replicate_cells(assigned, cap),
            ["cluster_id", "k1", "k2"],
            SEM_COS_THRESHOLD,
            _tile_owner,
        )
        .selectExpr("vec_b AS vec_id")
        .distinct()
    )


@register(
    "q_semantic_prune",
    oracle=f"""
        WITH {ORACLE_ASSIGN_CTES},
        pruned AS (
            SELECT DISTINCT a.vec_id
            FROM a2 a
            JOIN a2 b ON b.cid = a.cid AND b.vec_id < a.vec_id
            JOIN qs xa ON xa.vec_id = a.vec_id
            JOIN qs xb ON xb.vec_id = b.vec_id
            WHERE {oracle_cosine('list_dot_product(xa.x, xb.x)', 'xa.sq', 'xb.sq')}
                  >= {SEM_COS_THRESHOLD}
        )
        SELECT a.vec_id, a.cid AS cluster_id,
               CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END AS pruned
        FROM a2 a LEFT JOIN pruned p ON p.vec_id = a.vec_id
    """,
    doc="SemDeDup-style pruning: within-cluster cosine near-dups dropped to the lowest id.",
)
def q_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication the SemDeDup way (Abbas et al., 2023):
    cluster the embedding space, then compare vectors ONLY within
    their cluster and prune any vector that has a lower-id member
    above the cosine threshold. The clustering turns the O(N²)
    all-pairs problem into Σ per-cluster O(n_c²) — the same
    bucketing idea as LSH, but model/geometry-driven.

    Composition: reuses the :func:`kmeans_assign` plan (so the
    cluster structure is the oracle-checked one), scores pairs
    within cluster_id, and emits every vector with its cluster and a
    0/1 pruned flag.

    Scale shape: rows shuffle once on (cluster_id, cell pair), then
    each key's pairs are scored by one in-task Arrow GEMM
    (:func:`_within_cluster_pruned`); per-cluster pair work is n_c²
    with n_c ≈ N/k and k ∝ N, so the per-cluster cost is bounded as
    the corpus grows. A pathological mega-cluster is the skew risk —
    mitigated by :func:`_replicate_cells`: clusters above
    SEM_CLUSTER_CAP split into hash sub-cells scored per cell pair,
    so no single key ever sees more than ~(2·cap)² pair work
    (tests/test_clustering.py plants a mega-cluster and checks both
    the bound and result equality with the uncapped path). Cosines
    are the engine's exact integer quantization (one double division
    at the end), so the threshold cut is bit-stable cross-engine.
    """
    # Stage the assignment once (temp-parquet stage(), the MinHash
    # signature-table convention): both self-join sides and the
    # final flag join consume it; left lazy each would re-run the
    # full two-round k-means. Staged-not-persisted so the shared
    # kmeans_assign subtree can never be cache-substituted into
    # q_kmeans's plan and nothing outlives the builder's slot.
    assigned = slot(
        spark, "kmeans_assign", sf_dir, lambda: kmeans_assign(spark, sf_dir)
    )
    pruned = _within_cluster_pruned(assigned).withColumn("pruned", F.lit(1))
    return (
        assigned.select("vec_id", "cluster_id")
        .join(pruned, "vec_id", "left")
        .select(
            "vec_id", "cluster_id", F.coalesce("pruned", F.lit(0)).alias("pruned")
        )
    )


@register(
    "q_cluster_purity",
    oracle=f"""
        WITH {ORACLE_ASSIGN_CTES},
        ct AS (
            SELECT a2.cid AS cluster_id, e.label, count(*) AS n
            FROM a2 JOIN embeddings e ON e.vec_id = a2.vec_id
            GROUP BY 1, 2
        ),
        maj AS (
            SELECT cluster_id, label AS majority_label, n AS n_majority,
                   row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY n DESC, label) AS rn
            FROM ct
        )
        SELECT t.cluster_id,
               CAST(t.n_members AS BIGINT) AS n_members,
               m.majority_label,
               CAST(m.n_majority AS BIGINT) AS n_majority
        FROM (SELECT cluster_id, sum(n) AS n_members FROM ct
              GROUP BY cluster_id) t
        JOIN maj m ON m.cluster_id = t.cluster_id AND m.rn = 1
    """,
    doc="Clustering evaluation: per-cluster label contingency + majority (purity numerator).",
)
def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering evaluation against the embeddings table's
    ground-truth ``label`` column: per k-means cluster, its size and
    its majority label with count — sum(n_majority)/sum(n_members)
    is the standard purity score, left to the consumer so the result
    stays integer-exact per row.

    Composition: reads the SAME staged assignment slot as q_kmeans
    and q_semantic_prune (the Lloyd rounds never re-run), joins the
    label column (N-row equi-join on vec_id), and reduces to a
    #clusters × #labels contingency — everything after the join is
    aggregated-small. Majority ties break on the smaller label, so
    both engines agree deterministically.
    """
    assigned = slot(
        spark, "kmeans_assign", sf_dir, lambda: kmeans_assign(spark, sf_dir)
    ).select(
        "vec_id", "cluster_id"
    )
    lab = tables(spark, sf_dir).embeddings.select("vec_id", "label")
    ct = (
        assigned.join(lab, "vec_id")
        .groupBy("cluster_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n"), F.asc("label"))
    maj = (
        ct.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )
    tot = ct.groupBy("cluster_id").agg(F.sum("n").alias("n_members"))
    return tot.join(maj, "cluster_id").select(
        "cluster_id", "n_members", "majority_label", "n_majority"
    )
