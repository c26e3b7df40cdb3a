"""Similarity search over embeddings (SURVEY.md §2.C — C3).

The reference has no vector operators (its values are opaque client
objects, ``MapReduceClient.h:15-18``); these are north-star additions
for the LLM-data-pipeline surface. All cosine math uses the exact
integer quantization from ``functions/vectors.py`` so the DuckDB
oracle hash-matches bit-for-bit (see that module's docstring).

- ``q_knn_cosine`` / ``q_knn_l2`` are the exact ground truth
  (:func:`knn_topk`): the broadcast query set scored against every
  row, O(Q·N).
- Every approximate top-k — the IVF, sign-LSH and PQ searches, the PQ
  rerank and their recall evaluations — is a row of one
  (cells × metric × encoder × rerank) spec, :class:`AdcSpec`, built
  by one Spark composer (:func:`adc_corpus`, :func:`adc_topk`) and one
  DuckDB composer (:func:`_oracle_adc`). Which search scales in which
  regime is stated once, on the spec.
- ``q_embedding_neardup`` is the exact all-pairs threshold join,
  tiled so per-task memory is constant in N (compute is inherently
  N²/2 — the moderate-N ground truth); ``q_embedding_neardup_lsh``
  is its 100 TB sibling: banded sign-LSH candidate buckets, the same
  exact verify only within buckets, and a SQL oracle that recomputes
  the identical signatures so the driver check is deterministic.
  Both, and clustering's q_semantic_prune, are one cosine threshold
  join: one tiling expansion (:func:`_tile_keys`), one pair kernel
  (:func:`_cos_pairs` under :func:`_threshold_pairs`) and, for the
  two LSH queries, one sign-LSH family (:func:`_hyperplane_signs`,
  :func:`_sign_pack`, :func:`_oracle_sig`).
"""

from __future__ import annotations

import math
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceapp_spark.functions.vectors import (
    cosine_sql,
    dot_sql,
    oracle_cosine,
    oracle_quantize,
    sq_norm_sql,
)
from mapreduceapp_spark.plans.hints import broadcast_if_small
from mapreduceapp_spark.plans.registry import register
from mapreduceapp_spark.plans.staging import slot, stage
from mapreduceapp_spark.sources import tables
from mapreduceapp_spark.sources.parquet import table_row_count

KNN_K = 10
# Query set: every 100th vector — small by construction (N/100), so
# Spark broadcasts it and the full table is scanned exactly once.
KNN_QUERY_PRED = "vec_id % 100 = 0"
# Brute-force kNN broadcasts the query set to every executor. N/100
# grows with the corpus, so an unguarded broadcast would silently
# become a multi-GB OOM at 100 TB. 100k 64-dim int64-quantized rows
# ≈ 64 MB serialized — comfortably broadcastable; above that the IVF
# path (q_ann_ivf) is the right tool. Enforced lazily at execution
# time (see q_knn_cosine), not with a driver-side count, so the
# builder stays a pure plan.
KNN_MAX_BROADCAST_QUERIES = 100_000
# Candidates per score block of the nearest-neighbour selection
# (:func:`_topm`): a block holds at most rows × GEMM_CHUNK_ROWS values
# however many candidates a hash group holds — the 100 TB case where
# one group is millions of rows. Module-level so the multi-chunk merge
# is testable at fixture scale (test_gemm_chunked_merge_matches).
GEMM_CHUNK_ROWS = 8192
NEARDUP_COS_THRESHOLD = 0.45  # sits in a gap of the data's cosine distribution
# Rows of one Arrow GEMM's input that a task holds: a group materializes
# as one pandas DataFrame, so it is capped at ~16 MB of 64-dim int64
# vectors (32,768 rows × 64 × 8 B), constant in N. The fragment-
# replicate frame hashes into P = max(parallelism floor, ceil(N / this))
# groups; its replicated small side (≤ 2048 codebook rows / √N
# centroids / Q ≤ 100k queries) adds P·|small| shuffle rows, far below
# the N·|small| row set the frame exists to avoid. The exact near-dup
# tiling sizes a cell at this many rows (:func:`_neardup_blocks`).
FRAGMENT_GROUP_ROWS = 32_768
# Rows per score slice of the cosine threshold join (:func:`_cos_pairs`):
# a slice's dense score matrix is GEMM_CHUNK × group rows.
GEMM_CHUNK = 256


def _neardup_blocks(n_rows: int, parallelism: int = 64) -> int:
    """Cell count of the exact near-dup join's (k1 ≤ k2) tiling.

    Two constraints, take the binding one:
    - memory ceiling: a cell ≤ FRAGMENT_GROUP_ROWS rows;
    - parallelism floor: ~nb²/2 tiles should cover the cluster's
      cores, or a mid-size table degenerates to one serial task
      (20k vectors at nb=1 ran one 53 s single-task GEMM that 36
      tiles run in a few seconds).

    Never exceeds n_rows cells (a cell must hold ≥ 1 row).
    """
    mem_floor = -(-n_rows // FRAGMENT_GROUP_ROWS)
    par_floor = math.ceil(math.sqrt(2 * max(1, parallelism)))
    return max(1, min(max(mem_floor, par_floor), n_rows))


def _fragment_replicate(
    big: DataFrame,
    small: DataFrame,
    salt: str,
    big_cols: list[tuple[str, str]],
    small_cols: list[tuple[str, str]],
    hash_col: str,
    n_rows: int | None = None,
) -> DataFrame:
    """The two-sided union frame of every fragment-replicate GEMM: the
    big side hashes into P groups on ``hash_col`` (salted so unrelated
    kernels never correlate group skew), the small side replicates to
    every group, and both sides union under one (side, pid, …) schema
    with typed nulls for the other side's columns. Consumers
    groupBy("pid").applyInPandas a kernel that splits on ``side``.
    Shuffle is |big| + P·|small| rows; no |big|·|small| row set ever
    exists.

    P = max(32, defaultParallelism), raised to
    ceil(n_rows / FRAGMENT_GROUP_ROWS) when the caller passes the big
    side's footer-derived row count: ``applyInPandas`` materializes a
    group as one pandas DataFrame, so the ceiling keeps per-task input
    constant in N (32,768 rows × 64 dims × 8 B ≈ 16 MB of vectors).
    Result-invariant by construction: every consumer's merge is a
    per-key top-k over columns that do not depend on the grouping, so
    P changes task shape, never output rows."""
    spark = big.sparkSession
    p = max(32, spark.sparkContext.defaultParallelism)
    if n_rows is not None:
        p = max(p, -(-n_rows // FRAGMENT_GROUP_ROWS))
    # one selectExpr string per side: one py4j round-trip each
    v = big.selectExpr(
        "0 AS side",
        f"pmod(xxhash64('{salt}', {hash_col}), {p}) AS pid",
        *[n for n, _ in big_cols],
        *[f"CAST(NULL AS {t}) AS {n}" for n, t in small_cols],
    )
    # replicate via explode(sequence(0..p-1)): a pure projection, so no
    # broadcast join node and no broadcast-build job per GEMM call
    c = small.selectExpr(
        "1 AS side",
        f"explode(sequence(CAST(0 AS BIGINT), CAST({p - 1} AS BIGINT)))"
        " AS pid",
        *[f"CAST(NULL AS {t}) AS {n}" for n, t in big_cols],
        *[n for n, _ in small_cols],
    )
    return v.unionByName(c)


# ------------------------------------------------ nearest-neighbour kernel
#
# Exact kNN, the k-means and IVF assign, the IVF probe and the PQ
# encode are one computation: score a block of rows against a block of
# candidates under one metric and keep each row's best m. The metric
# is a value (below), the selection is :func:`_topm`, and the Spark
# side is :func:`_nn_gemm` over :func:`_fragment_replicate`.


def _component_bound(terms: int, dim: int) -> int:
    """The largest |component| B, rounded down to three significant
    digits, for which ``terms`` int64 values of up to dim·B² each sum
    below 2^63."""
    b = math.isqrt((2**63 - 1) // (terms * max(1, dim)))
    return b - b % 10 ** (len(str(b)) - 3)


def _l2_block(X, xn, C, cn):
    return xn[:, None] + cn[None, :] - 2 * (X @ C.T)


def _cosine(X, xn, C, cn):
    """The exact int64 dot, then cosine_sql's two IEEE ops: the one
    numpy cosine. A zero norm gives NaN, which no threshold keeps."""
    import numpy as np

    return (X @ C.T).astype(np.float64) / np.sqrt(
        xn.astype(np.float64)[:, None] * cn.astype(np.float64)[None, :]
    )


def _cos_block(X, xn, C, cn):
    if not (xn.all() and cn.all()):
        raise ArithmeticError("[DIVIDE_BY_ZERO] zero-norm vector in a cosine score")
    return _cosine(X, xn, C, cn)


def _rational_block(X, xn, C, cn):
    import numpy as np

    t = X.astype(np.float64)[:, None, :] - (
        C.astype(np.float64) / cn.astype(np.float64)[:, None]
    )
    return np.cumsum(t * t, axis=2)[:, :, -1]


class Metric(NamedTuple):
    """A nearest-neighbour score between a row and a candidate, each an
    int64 vector with a norm. ``block`` scores an (n, d) row block
    against a (k, d) candidate block in numpy; ``sql`` is the same score
    as a Spark SQL expression over a (q_qv, q_sq) row and a (qv, sq)
    candidate. Both run the same operations in the same order, so they
    agree bit for bit with each other and with the DuckDB oracles.
    ``desc`` ranks larger scores first. The score sums ``terms`` int64
    values of up to d·B² each for components |v| ≤ B, which fixes the
    component bound (:func:`_component_bound`); 0 means no int64
    product is formed. ``wide`` blocks hold d values per pair. ``col``
    and ``col_type`` name and type the score, ``emit`` projects it into
    a result, and ``key`` tags hash salts and errors. ``duck`` is the
    score in DuckDB between table aliases {a} and {b}, each with (qv,
    sq) columns, typed so that ``emit`` projects it there too."""

    key: str
    col: str
    col_type: str
    desc: bool
    terms: int
    wide: bool
    block: Callable
    sql: str
    emit: str
    duck: str

    @property
    def order(self) -> str:
        return f"{self.col} {'DESC' if self.desc else 'ASC'}"


# exact int64 |q|² + |c|² − 2⟨q,c⟩: four terms of up to d·B², so
# B = 189,000,000 at 64 dims and 536,000,000 at a PQ subspace's 8
L2 = Metric(
    "l2", "l2sq", "long", False, 4, False, _l2_block,
    f"(q_sq + sq - 2 * {dot_sql('q_qv', 'qv')})", "l2sq",
    "CAST({a}.sq + {b}.sq - 2 * list_dot_product({a}.qv, {b}.qv) AS BIGINT)",
)
# the exact int64 dot, then the two IEEE ops of cosine_sql: one term,
# so B = 379,000,000 at 64 dims; a zero norm fails like ANSI SQL
COSINE = Metric(
    "cos", "cos", "double", True, 1, False, _cos_block,
    cosine_sql(dot_sql("q_qv", "qv"), "q_sq", "sq"), "round(cos, 6) AS cos",
    oracle_cosine("list_dot_product({a}.qv, {b}.qv)", "{a}.sq", "{b}.sq"),
)
# k-means round 2: Σ (x_i − s_i/c)² against a rational mean (int sums s
# and count c, the candidate's vector and norm), folded left to right
# in double — a cumsum, never np.sum's pairwise reassociation
RATIONAL_L2 = Metric(
    "rational", "d", "double", False, 0, True, _rational_block,
    "aggregate(transform(zip_with(q_qv, qv, (x, s) -> CAST(x AS DOUBLE)"
    " - CAST(s AS DOUBLE) / CAST(sq AS DOUBLE)), t -> t * t),"
    " CAST(0 AS DOUBLE), (acc, t) -> acc + t)",
    "d",
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1,"
    " len({a}.qv)), i -> ({a}.qv[i]::DOUBLE - {b}.qv[i]::DOUBLE / {b}.sq)"
    " * ({a}.qv[i]::DOUBLE - {b}.qv[i]::DOUBLE / {b}.sq))), (x, y) -> x + y)",
)


def _topm(metric, m, X, xn, C, cn, cids, chunk, rids=None):
    """Each row's ``m`` best candidates under ``metric``: the one numpy
    selection of every nearest-neighbour kernel. Rows are (X, xn),
    candidates (C, cn) with ids ``cids`` in ascending order. Returns
    (row index, candidate id, score) per kept pair, each row's pairs in
    rank order.

    - Parity: scores are ``metric.block``'s, the operations of
      ``metric.sql``, so a ranking equals the SQL form's.
    - Ties go to the lower candidate id. The running merge lexsorts
      (key, id); a top-1 does not sort but takes the first extreme over
      ascending ids and replaces the running best only when strictly
      better.
    - Headroom: a component on either side beyond the metric's int64
      bound raises ARITHMETIC_OVERFLOW where numpy would wrap silently;
      a zero cosine norm raises DIVIDE_BY_ZERO where a NaN would rank.
    - Memory: candidates are scored ``chunk`` values per row at a time
      (``chunk // d`` candidates for a wide metric) and merged into a
      running rows × m best, so a block never exceeds
      rows × ``chunk`` values whatever the group holds.
    - ``rids`` excludes each row's own id; a row with fewer than ``m``
      candidates keeps fewer pairs."""
    import numpy as np

    if metric.terms:
        bound = _component_bound(metric.terms, X.shape[1])
        if max(np.abs(X).max(initial=0), np.abs(C).max(initial=0)) > bound:
            raise ArithmeticError(
                f"[ARITHMETIC_OVERFLOW] {metric.key} components exceed "
                f"the int64 headroom (|v| <= {bound})"
            )
    worst = np.inf if metric.col_type == "double" else np.iinfo(np.int64).max
    best = np.full((len(X), m), worst)
    best_id = np.full((len(X), m), np.iinfo(np.int64).max)
    rows = np.arange(len(X))[:, None]
    step = max(1, chunk // X.shape[1]) if metric.wide else chunk
    for s in range(0, len(C), step):
        ids = cids[s : s + step]
        key = metric.block(X, xn, C[s : s + step], cn[s : s + step])
        if metric.desc:
            key = -key  # float negation is exact
        if rids is not None:
            key[rids[:, None] == ids[None, :]] = worst
        if m == 1:
            j = key.argmin(axis=1)
            kj = key[rows[:, 0], j]
            upd = kj < best[:, 0]
            best[upd, 0], best_id[upd, 0] = kj[upd], ids[j[upd]]
        else:
            kk = np.concatenate([best, key], axis=1)
            ki = np.concatenate([best_id, np.broadcast_to(ids, key.shape)], axis=1)
            o = np.lexsort((ki, kk), axis=1)[:, :m]
            best, best_id = kk[rows, o], ki[rows, o]
    keep = best != worst
    return np.nonzero(keep)[0], best_id[keep], (-best if metric.desc else best)[keep]


def _nn_gemm(
    rows: DataFrame,
    cands: DataFrame,
    metric: Metric,
    m: int,
    salt: str,
    n_rows: int | None = None,
    hash_rows: bool = True,
) -> DataFrame:
    """Each row's ``m`` best candidates under ``metric`` as a
    fragment-replicate Arrow GEMM: one :func:`_topm` per hash group.
    ``rows`` and ``cands`` are each (id, vector, norm) by position, with
    distinct column names.

    - ``hash_rows`` (the assign, the probe): rows hash into groups and
      every candidate replicates, so each row meets every candidate
      once and the result is final: the row's columns plus the
      candidate id, m rows per row.
    - otherwise (exact kNN): candidates hash and the rows replicate;
      each group emits a partial top-m (row id, candidate id, score)
      that skips the row's own id, and the caller ranks globally.

    ``n_rows`` bounds the hashed side for the group count."""
    import numpy as np
    import pandas as pd

    (rid, rv, rn), (cid, cv, cn) = rows.columns, cands.columns
    r_cols = [(rid, "long"), (rv, "array<long>"), (rn, "long")]
    c_cols = [(cid, "long"), (cv, "array<long>"), (cn, "long")]
    if hash_rows:
        union = _fragment_replicate(rows, cands, salt, r_cols, c_cols, rid, n_rows)
        out = r_cols + [(cid, "long")]
    else:
        union = _fragment_replicate(cands, rows, salt, c_cols, r_cols, cid, n_rows)
        out = [(rid, "long"), (cid, "long"), (metric.col, metric.col_type)]
    r_side = 0 if hash_rows else 1
    chunk = GEMM_CHUNK_ROWS  # read at plan time: the workers see its value
    # object dtype: Arrow can't cast an empty float64 column to list<long>
    dtypes = {"long": "int64", "double": "float64", "array<long>": "object"}
    empty = pd.DataFrame({n: pd.Series([], dtype=dtypes[t]) for n, t in out})

    def group(pdf: pd.DataFrame) -> pd.DataFrame:
        rs = pdf[pdf["side"] == r_side]
        if not len(rs) or len(rs) == len(pdf):
            return empty
        cs = pdf[pdf["side"] != r_side].sort_values(cid)
        ids = rs[rid].to_numpy(np.int64)
        norms = rs[rn].to_numpy(np.int64)
        rr, best, score = _topm(
            metric,
            m,
            np.stack(rs[rv].values).astype(np.int64),
            norms,
            np.stack(cs[cv].values).astype(np.int64),
            cs[cn].to_numpy(np.int64),
            cs[cid].to_numpy(np.int64),
            chunk,
            None if hash_rows else ids,
        )
        if hash_rows:
            return pd.DataFrame(
                {rid: ids[rr], rv: rs[rv].values[rr], rn: norms[rr], cid: best}
            )
        return pd.DataFrame({rid: ids[rr], cid: best, metric.col: score})

    return union.groupBy("pid").applyInPandas(
        group, ", ".join(f"{n} {t}" for n, t in out)
    )


def _assign(
    vectors: DataFrame, cents: DataFrame, metric: Metric, n_rows: int | None = None
) -> DataFrame:
    """Each (id, vector, norm) row with the id of its best (id, vector,
    norm) centroid appended: the k-means and IVF cell assignment."""
    return _nn_gemm(vectors, cents, metric, 1, "kmassign:", n_rows)


def _probe(
    queries: DataFrame,
    cents: DataFrame,
    m: int,
    metric: Metric,
    n_queries: int | None = None,
) -> DataFrame:
    """(query_id, q_qv, q_sq, probe): each (vec_id, qv, sq) query's
    ``m`` best (cent_id, c_qv, c_sq) centroids, m rows per query."""
    return _nn_gemm(
        queries.selectExpr("vec_id AS query_id", "qv AS q_qv", "sq AS q_sq"),
        cents.selectExpr("cent_id AS probe", "c_qv", "c_sq"),
        metric,
        m,
        "ivfprobe:",
        n_queries,
    )


def _top_k(scored: DataFrame, order: str, k: int, *out: str) -> DataFrame:
    """``out`` over each query_id's first ``k`` rows of ``scored`` by
    ``order`` then neighbor_id, numbered from 1 in ``rnk``: the top-k
    window every search ends with."""
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id"
            f" ORDER BY {order}, neighbor_id ASC) AS rnk",
        )
        .filter(f"rnk <= {k}")
        .selectExpr(*out)
    )


def _guarded_query_set(e: DataFrame, query_name: str, redirect: str) -> DataFrame:
    """(query_id, q_qv, q_sq) for the broadcast query set, with the
    LAZY over-budget guard folded into query_id (engineering
    rationale on q_knn_cosine: early-terminating limit(cap+1) count,
    guard on the Q-sized side not the N·Q scored side, and the fold
    into a live output column — a standalone assert column gets
    pruned by Catalyst, silently disarming the guard). ONE copy by
    design: the construction is subtle enough that a fix applied to
    one inline duplicate and not another would silently disarm a
    query's guard."""
    q = e.filter(KNN_QUERY_PRED).selectExpr(
        "vec_id AS query_id", "qv AS q_qv", "sq AS q_sq"
    )
    qcnt = q.select("query_id").limit(KNN_MAX_BROADCAST_QUERIES + 1).agg(
        F.count(F.lit(1)).alias("_nq")
    )
    msg = (
        f"{query_name}: query set exceeds the broadcast "
        f"budget of {KNN_MAX_BROADCAST_QUERIES} rows; use "
        f"{redirect} for large query sets"
    )
    return q.crossJoin(F.broadcast(qcnt)).selectExpr(
        f"(query_id + CASE WHEN _nq > {KNN_MAX_BROADCAST_QUERIES}"
        f" THEN CAST(raise_error('{msg}') AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END) AS query_id",
        "q_qv",
        "q_sq",
    )


def _recall_vs(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """recall@k of ``approx`` against ``exact`` — both (query_id,
    neighbor_id) frames; the k·Q-row left join + count every ANN
    evaluation shares (one copy: a future fix to the comparison must
    not need applying in four places)."""
    a = approx.selectExpr(
        "query_id AS a_query_id", "neighbor_id AS a_neighbor_id"
    )
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(
            a,
            F.expr(
                "query_id = a_query_id AND neighbor_id = a_neighbor_id"
            ),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("a_neighbor_id").alias("n_hit"))
    )
    return hits.selectExpr(
        "query_id",
        "n_hit",
        f"round(n_hit / CAST({KNN_K} AS DOUBLE), 4) AS recall_at_k",
    )


def _oracle_recall(exact_sql: str, approx_sql: str) -> str:
    """DuckDB twin of :func:`_recall_vs` over two (query_id,
    neighbor_id) oracle bodies — the one recall-comparison oracle."""
    return f"""
        WITH exact AS ({exact_sql}),
        approx AS ({approx_sql}),
        hits AS (
            SELECT e.query_id, count(a.neighbor_id) AS n_hit
            FROM exact e LEFT JOIN approx a
              ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
            GROUP BY e.query_id
        )
        SELECT query_id,
               CAST(n_hit AS BIGINT) AS n_hit,
               round(n_hit / {KNN_K}.0, 4) AS recall_at_k
        FROM hits
    """


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv, sq) of the embeddings table. A NULL embedding is
    not a vector: its row is dropped here, once, as the oracle twin
    drops it."""
    from mapreduceapp_spark.functions.vectors import quantize_sql

    e = tables(spark, sf_dir).embeddings.filter("embedding IS NOT NULL")
    q = e.selectExpr("vec_id", f"{quantize_sql('embedding')} AS qv")
    return q.selectExpr("*", f"{sq_norm_sql('qv')} AS sq")


_ORACLE_QUANTIZED = f"""
        SELECT vec_id,
               {oracle_quantize('embedding')} AS qv,
               list_dot_product({oracle_quantize('embedding')},
                                {oracle_quantize('embedding')}) AS sq
        FROM embeddings
        WHERE embedding IS NOT NULL
"""


def _exact_top_k(pairs: DataFrame, metric: Metric, k: int) -> DataFrame:
    """Top-``k`` (query_id, neighbor_id, rnk, score) of (query_id, q_qv,
    q_sq) × (vec_id, qv, sq) candidate ``pairs`` scored exactly under
    ``metric``."""
    scored = pairs.selectExpr(
        "query_id", "vec_id AS neighbor_id", f"{metric.sql} AS {metric.col}"
    )
    return _top_k(
        scored, metric.order, k, "query_id", "neighbor_id", "rnk", metric.emit
    )


def _oracle_top(rel: str, col: str, desc: bool, emit: str, k: int) -> str:
    """DuckDB twin of :func:`_top_k`: ``emit`` over each query_id's
    first ``k`` rows of ``rel`` by ``col`` then neighbor_id."""
    return f"""
        SELECT query_id, neighbor_id, rnk, {emit} FROM (
            SELECT query_id, neighbor_id, {col},
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY {col}{' DESC' if desc else ''}, neighbor_id) AS rnk
            FROM {rel}
        ) WHERE rnk <= {k}
"""


def _oracle_knn(src: str, metric: Metric) -> str:
    """DuckDB twin of :func:`knn_topk` over a (vec_id, qv, sq) source
    query: the exact-kNN oracle of every metric and fixture."""
    return f"""
        WITH q AS ({src}),
        scored AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   {metric.duck.format(a='a', b='b')} AS {metric.col}
            FROM q a JOIN q b
              ON a.{KNN_QUERY_PRED} AND b.vec_id <> a.vec_id
        ){_oracle_top('scored', metric.col, metric.desc, metric.emit, KNN_K)}"""


@register(
    "q_knn_cosine",
    oracle=_oracle_knn(_ORACLE_QUANTIZED, COSINE),
    doc="Brute-force top-k cosine neighbors for a broadcast query set (C3).",
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN baseline: broadcast the (small) query set, stream the
    table once, window top-k per query.

    Plan shape: BroadcastNestedLoopJoin (queries are N/100 rows — the
    build side is tiny) → exact int dot products in codegen → one
    shuffle keyed by query_id for the top-k window. No O(N²) pair
    blow-up; N·Q score rows only.

    Guard: the broadcast side is bounded by
    ``KNN_MAX_BROADCAST_QUERIES``. The check is part of the plan —
    lazy, no driver-side count — and is engineered to cost nothing:

    - the count aggregate reads ``limit(cap+1)`` of a one-column
      projection, so it early-terminates instead of fully scanning
      the table a second time (at 100 TB an unbounded count would BE
      a second corpus scan);
    - the guard folds into ``query_id`` on the QUERY side before the
      broadcast (``+ when(count > cap, raise_error).otherwise(0)``),
      so it evaluates Q times during broadcast build, not N·Q times
      in the scoring loop (a first cut on the scored side cost ~25%
      of query runtime at sf0.1);
    - it must feed a live output column at all: a standalone assert
      column gets removed by Catalyst column pruning, silently
      disabling the guard (observed, not hypothesized).

    The job fails fast with a pointer at q_ann_ivf when the query
    set outgrows the broadcast budget.

    Above ``ANN_GEMM_MIN_ROWS`` rows the N·Q scored rows never
    shuffle: :func:`knn_topk`'s GEMM regime keeps a map-side partial
    top-k per query, and the global window sees P·Q·k thin rows.
    """
    e = _quantized(spark, sf_dir)
    return knn_topk(
        e,
        COSINE,
        "q_knn_cosine",
        n_rows=table_row_count(spark, sf_dir, "embeddings"),
        redirect="q_ann_ivf",
    )


# Regime gate of the dense exact kernels (exact kNN, PQ encode): below
# this row count the whole-stage-codegen expression forms win — the
# Arrow GEMM's action floor is ~0.9 s on local[32] (3-4 stage
# boundaries + Arrow batch round-trips, measured flat from N=500 to
# N=2000 warm) while the codegen forms finish in 0.3-0.7 s — and above
# it the codegen row fan-outs take over: the encode scores N·K·M rows
# (K=√N ⇒ N^1.5: 1.7 s at N=2k, 50-60 s at N=20k measured cold) and
# the exact-kNN window shuffles N·Q = N²/100 scored rows (0.64 s at
# N=2k; 6-38 s at N=20k, swinging with session state). At N=20k the
# GEMM runs 10-16 s cold / 5-8 s warm with no session sensitivity.
# The crossover sits near N≈4k on both curves; the decision reads
# footer metadata, as the dedup-index regime gate does.
ANN_GEMM_MIN_ROWS = 4096


def knn_topk(
    e: DataFrame,
    metric: Metric,
    guard_name: str,
    n_rows: int | None = None,
    redirect: str = "q_ann_ivf / q_pq_ann",
) -> DataFrame:
    """Exact top-k (query_id, neighbor_id, rnk, score) under ``metric``
    of a (vec_id, qv, sq) frame's KNN_QUERY_PRED queries against every
    other row, ranked by (score, neighbor_id). Two plans, gated on the
    caller's footer-derived ``n_rows`` (None: the first):

    - below ``ANN_GEMM_MIN_ROWS``: the broadcast query set joins one
      corpus scan, ``metric.sql`` scores it, and the window ranks N·Q
      rows;
    - otherwise :func:`_nn_gemm` hashes the corpus, keeps each query's
      map-side top-k per group, and the window ranks P·Q·k thin rows,
      so no N·Q row set shuffles.

    Both emit the same rows: the metric's block and SQL scores are
    bit-identical and both break ties to the lower neighbor_id. The
    lazy broadcast-budget guard rides query_id in both plans, so an
    over-budget query set fails the job with the same message."""
    q = _guarded_query_set(e, guard_name, redirect)
    if n_rows is None or n_rows < ANN_GEMM_MIN_ROWS:
        return _exact_top_k(
            F.broadcast(q).join(e, F.expr("vec_id != query_id")), metric, KNN_K
        )
    scored = _nn_gemm(
        q,
        e.selectExpr("vec_id AS neighbor_id", "qv", "sq"),
        metric,
        KNN_K,
        f"knn{metric.key}:",
        n_rows,
        hash_rows=False,
    )
    return _top_k(
        scored, metric.order, KNN_K, "query_id", "neighbor_id", "rnk", metric.emit
    )


def _cos_exact_slot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_knn_cosine result staged once per process: the ground
    truth q_knn_classify and the cosine recall rows read (q_knn_cosine
    itself stays a pure plan)."""
    return slot(spark, "knn_topk", sf_dir, lambda: q_knn_cosine(spark, sf_dir))


# ------------------------------------------------ cosine threshold join
#
# The exact near-dup join, its banded-LSH sibling and SemDeDup's
# within-cluster prune are one computation: shuffle rows to a key,
# then score every pair of a key's group once and keep cos ≥ a
# threshold (map → shuffle by key → reduce per key). Keys come from
# :func:`_tile_keys` (a replicated triangle tiling) or straight from a
# column (the LSH bucket); :func:`_threshold_pairs` runs
# :func:`_cos_pairs` per group under the caller's ownership rule, so
# a pair that meets on several keys is emitted by one.


def _tile_keys(df: DataFrame, cell: str, m: str) -> DataFrame:
    """``df`` with its ``cell`` in [0, m) (SQL over ``df``'s columns)
    and one row per cell pair (k1, k2) = (min(cell, t), max(cell, t)),
    t < m: N·m shuffle rows, never pairs. Every unordered row pair with
    cells (i, j) meets on exactly one key owned by :func:`_tile_owner`
    — (min(i,j), max(i,j)), a diagonal key (i, i) for a same-cell pair
    — so a key scores at most its two cells, (2·N/m)² pair work."""
    return df.selectExpr("*", f"CAST({cell} AS INT) AS cell").selectExpr(
        "*",
        f"inline(transform(sequence(0, CAST({m} AS INT) - 1),"
        " t -> named_struct('k1', least(cell, t), 'k2', greatest(cell, t))))",
    )


def _tile_owner(key: tuple, pdf):
    """Ownership rule of a :func:`_tile_keys` group keyed (…, k1, k2):
    a diagonal key owns its cell's pairs, an off-diagonal key only its
    cross-cell pairs: row i's first partner is row i+1 on the diagonal,
    and off it, with rows sorted by cell, the next cell's first row."""
    import numpy as np

    if key[-2] == key[-1]:
        return pdf, np.arange(1, len(pdf) + 1), None
    pdf = pdf.sort_values("cell", kind="stable")
    cell = pdf["cell"].to_numpy()
    return pdf, np.searchsorted(cell, cell, "right"), None


def _cos_pairs(V, sq, thr: float, lo, keep, chunk: int):
    """(a, b, cos) over the row pairs a < b of one group whose cosine
    is ≥ ``thr``, with b ≥ ``lo[a]`` (non-decreasing: the positional
    triangle is lo = a + 1) and ``keep(a, b)`` true unless it is None.

    Rows are scored ``chunk`` at a time against the columns from the
    slice's first ``lo`` on, so a slice's score matrix is at most
    chunk × group rows and no pair below ``lo`` is computed. Cosines
    are :func:`_cosine`'s, the SQL cosine bit for bit; a zero-norm row
    scores NaN and pairs with nothing, as the oracle's NULL does."""
    import numpy as np

    n = len(V)
    cols = np.arange(n)
    out = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))]
    for s in range(0, n, chunk):
        c0 = lo[s]
        if c0 >= n:
            break
        t = min(s + chunk, n)
        cos = _cosine(V[s:t], sq[s:t], V[c0:], sq[c0:])
        ra, rb = np.nonzero((cos >= thr) & (cols[None, c0:] >= lo[s:t, None]))
        a, b, c = s + ra, c0 + rb, cos[ra, rb]
        if keep is not None:
            k = keep(a, b)
            a, b, c = a[k], b[k], c[k]
        out.append((a, b, c))
    return tuple(np.concatenate(x) for x in zip(*out))


def _threshold_pairs(
    rows: DataFrame, keys: list[str], thr: float, own: Callable
) -> DataFrame:
    """(vec_a, vec_b, cos): the pairs of (vec_id, qv, sq) ``rows``
    sharing a ``keys`` group with cosine ≥ ``thr``, vec_a < vec_b and
    cos rounded to 6 places. ``own(key, pdf)`` returns the group in
    scoring order with :func:`_cos_pairs`' ``lo`` and ``keep``: the
    rule that emits a pair meeting on several keys once."""
    import numpy as np
    import pandas as pd

    chunk = GEMM_CHUNK  # read at plan time: the workers see its value

    def group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, lo, keep = own(key, pdf)
        a, b, cos = _cos_pairs(
            np.stack(pdf["qv"].values).astype(np.int64),
            pdf["sq"].to_numpy(np.int64),
            thr,
            lo,
            keep,
            chunk,
        )
        ids = pdf["vec_id"].to_numpy(np.int64)
        va, vb = ids[a], ids[b]
        return pd.DataFrame(
            {"vec_a": np.minimum(va, vb), "vec_b": np.maximum(va, vb), "cos": cos}
        )

    return (
        rows.groupBy(*keys)
        .applyInPandas(group, "vec_a long, vec_b long, cos double")
        .selectExpr("vec_a", "vec_b", "round(cos, 6) AS cos")
    )


@register(
    "q_embedding_neardup",
    oracle=f"""
        WITH q AS ({_ORACLE_QUANTIZED})
        SELECT a.vec_id AS vec_a,
               b.vec_id AS vec_b,
               round({oracle_cosine('list_dot_product(a.qv, b.qv)', 'a.sq', 'b.sq')},
                     6) AS cos
        FROM q a, q b
        WHERE a.vec_id < b.vec_id
          AND {oracle_cosine('list_dot_product(a.qv, b.qv)', 'a.sq', 'b.sq')}
              >= {NEARDUP_COS_THRESHOLD}
    """,
    doc="Embedding-cosine near-duplicate pairs above a threshold (C2 family).",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ≥ threshold — the embedding analog of near-dup
    detection, executed as a *tiled GEMM over the shuffle*.

    A row-pair cross join evaluates the 64-dim dot product one
    expression tree at a time; dense linear algebra is the hot loop
    where Arrow + numpy matmul beats codegen by an order of
    magnitude (measured: 24.9s → ~1s at sf0.1). Shape:

    1. derive the cell count from the table's footer row count and
       the cluster parallelism (:func:`_neardup_blocks`): a cell holds
       at most ``FRAGMENT_GROUP_ROWS`` rows and the ~nb²/2 tiles cover
       the cores; a vector's cell is vec_id mod nb;
    2. replicate each row to its cell's nb tiles (:func:`_tile_keys`,
       one scan, a pure projection): N·nb small shuffle rows, never
       N² pairs;
    3. per tile, :func:`_threshold_pairs` scores the exact int64
       A·Bᵀ in ``GEMM_CHUNK``-row slices (integer matmul on the
       quantized vectors, so the result hash-matches the SQL oracle)
       and only matches leave Python.

    Per-task MEMORY is bounded by the derived tiling, but exact
    all-pairs COMPUTE is inherently N²/2 dot products — at 10⁹
    vectors ~10¹⁸ multiply-adds however it is tiled. This operator is
    the exact ground truth for moderate N; the 100 TB near-duplicate
    path is :func:`q_embedding_neardup_lsh`, which generates
    candidates with banded sign-LSH and runs the same pair kernel
    only inside buckets.
    """
    # footer-metadata count: the builder runs no job. The tiling varies
    # with defaultParallelism; the rows do not.
    nb = _neardup_blocks(
        table_row_count(spark, sf_dir, "embeddings"),
        spark.sparkContext.defaultParallelism,
    )
    tiles = _tile_keys(_quantized(spark, sf_dir), f"pmod(vec_id, {nb})", str(nb))
    return _threshold_pairs(tiles, ["k1", "k2"], NEARDUP_COS_THRESHOLD, _tile_owner)


# ------------------------------------------------------------ sign-LSH
#
# Random-hyperplane sign LSH (P[sign agrees] = 1 − θ/π). A family is a
# tuple of band prefixes: plane p of a band has ±1 component i from
# sha256(f"{prefix}:{p}:{i}"), so no engine hash is involved, Spark and
# the DuckDB oracle share the literal matrix, and plane (band, p) is
# the same vector at every signature depth. A band's signature packs
# its planes' signs ⟨v, h_p⟩ ≥ 0 into bit p. The banded near-dup join
# uses EMB_LSH_BANDS bands of a depth derived from N; q_ann_lsh's
# bucket is the one band of ANN_LSH_FAMILY.
EMB_DIM = 64
EMB_LSH_BANDS = 16
EMB_LSH_FAMILY = tuple(f"emb-lsh:{b}" for b in range(EMB_LSH_BANDS))
EMB_LSH_MIN_ROWS = 4
# r is derived from the table's row count so an expected bucket holds
# at most EMB_LSH_TARGET_BUCKET rows (random data: N/2^r per band
# bucket): per-bucket GEMM work stays bounded as N grows by deepening
# the signatures instead of widening the buckets.
EMB_LSH_TARGET_BUCKET = 65_536
# Depth ceiling: the oracle renders a masked term per possible bit,
# so r is capped where the rendering stops. 24 bits covers N up to
# 65_536 * 2^24 ≈ 1.1e12 vectors — past that, expected bucket size
# resumes linear growth (documented cap, identical on both engines).
EMB_LSH_R_MAX = 24
LSH_BITS = 8  # q_ann_lsh's hyperplane count → 2^8 buckets
ANN_LSH_FAMILY = ("ann-lsh",)


def _emb_lsh_rows(n_rows: int) -> int:
    """Bits per band: smallest r with N/2^r ≤ target, floored at
    EMB_LSH_MIN_ROWS and capped at EMB_LSH_R_MAX.

    Pure integer derivation: with m = ceil(N/target), the smallest r
    with 2^r ≥ m is (m-1).bit_length() — no log2/ceil float chain, so
    the SQL oracle's printf('%b')-length twin is bit-identical at
    every N by construction, not by IEEE luck."""
    m = max(1, (n_rows + EMB_LSH_TARGET_BUCKET - 1) // EMB_LSH_TARGET_BUCKET)
    return max(EMB_LSH_MIN_ROWS, min(EMB_LSH_R_MAX, (m - 1).bit_length()))


# SQL twin of _emb_lsh_rows, used as a scalar-subquery CTE: DuckDB's
# length(printf('%b', m-1)) is integer bit-length (printf('%b', 0) =
# '0' has length 1, but both 0 and 1 floor to EMB_LSH_MIN_ROWS).
_EMB_LSH_ROWS_SQL = (
    f"greatest({EMB_LSH_MIN_ROWS}, least({EMB_LSH_R_MAX}, "
    f"length(printf('%b', greatest(1, (n + {EMB_LSH_TARGET_BUCKET - 1}) "
    f"// {EMB_LSH_TARGET_BUCKET}) - 1))))"
)


def _hyperplane_signs(prefixes: tuple[str, ...], rows: int, dim: int = EMB_DIM):
    """``rows`` ±1 hyperplanes per band prefix, band-major:
    (len(prefixes)·rows, dim) lists."""
    import hashlib

    return [
        [
            1 if hashlib.sha256(f"{pre}:{p}:{i}".encode()).digest()[0] % 2 == 0 else -1
            for i in range(dim)
        ]
        for pre in prefixes
        for p in range(rows)
    ]


def _sign_pack(V, H, rows: int):
    """(n, bands) signatures of int64 vectors ``V`` under band-major
    planes ``H``: bit p of band b is ⟨v, H[b·rows + p]⟩ ≥ 0, on exact
    int64 dots."""
    import numpy as np

    bits = (V @ H.T >= 0).astype(np.int64)
    return bits.reshape(len(V), -1, rows) @ (1 << np.arange(rows, dtype=np.int64))


def _signatures(prefixes: tuple[str, ...], rows: int):
    """Arrow UDF: qv → the array of its band signatures under the
    family, one (n × dim)·(dim × bands·rows) integer matmul per batch."""
    import numpy as np
    import pandas as pd

    H = np.array(_hyperplane_signs(prefixes, rows), dtype=np.int64)

    def sigs(qv):  # pd.Series -> pd.Series (Arrow-batched)
        return pd.Series(list(_sign_pack(np.stack(qv.values).astype(np.int64), H, rows)))

    return F.pandas_udf(sigs, "array<long>")


def _oracle_sig(planes, depth_guard: bool = False) -> str:
    """DuckDB twin of one band of :func:`_sign_pack` over ``qv``: a
    CASE term per plane. ``depth_guard`` masks plane p unless p < r,
    so a band rendered at EMB_LSH_R_MAX planes packs the first r."""
    guard = "{p} < r AND " if depth_guard else ""
    return " + ".join(
        f"(CASE WHEN {guard.format(p=p)}list_dot_product(qv, "
        f"[{', '.join(str(s) for s in h)}]) >= 0 THEN {1 << p} ELSE 0 END)"
        for p, h in enumerate(planes)
    )


def _emb_lsh_oracle() -> str:
    """DuckDB twin of the banded signature join, valid at ANY table
    scale: the signature depth r is derived INSIDE the SQL from
    count(*) (the integer _EMB_LSH_ROWS_SQL twin — same discipline
    as the IVF stride CTE), and every band signature is rendered as
    EMB_LSH_R_MAX masked bit terms of which only the first r
    contribute. Nothing about this oracle depends on the import
    environment, a filesystem path, or an env var: a driver checking
    any scale gets the depth the Spark builder derives there, by
    construction. Pairs that agree on at least one band are joined
    and the exact cosine threshold verified."""
    signs = _hyperplane_signs(EMB_LSH_FAMILY, EMB_LSH_R_MAX)
    sig_cols = [
        _oracle_sig(signs[b * EMB_LSH_R_MAX : (b + 1) * EMB_LSH_R_MAX], True)
        + f" AS sig{b}"
        for b in range(EMB_LSH_BANDS)
    ]
    band_match = " OR ".join(
        f"a.sig{b} = b.sig{b}" for b in range(EMB_LSH_BANDS)
    )
    cos = oracle_cosine("list_dot_product(a.qv, b.qv)", "a.sq", "b.sq")
    return f"""
        WITH q AS ({_ORACLE_QUANTIZED}),
        params AS (
            SELECT {_EMB_LSH_ROWS_SQL} AS r
            FROM (SELECT count(*) AS n FROM embeddings)
        ),
        s AS (SELECT vec_id, qv, sq, {", ".join(sig_cols)} FROM q, params)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({cos}, 6) AS cos
        FROM s a JOIN s b
          ON a.vec_id < b.vec_id AND ({band_match})
        WHERE {cos} >= {NEARDUP_COS_THRESHOLD}
    """


def _first_band_owner(key: tuple, pdf):
    """Ownership rule of a (band, sig) bucket: an in-bucket pair is
    emitted only by the first band on which the two signatures agree
    (each row carries all its signatures, so the rule needs no extra
    shuffle or distinct)."""
    import numpy as np

    S = np.stack(pdf["sigs"].values)
    return (
        pdf,
        np.arange(1, len(pdf) + 1),
        lambda a, b: (S[a] == S[b]).argmax(axis=1) == key[0],
    )


@register(
    "q_embedding_neardup_lsh",
    oracle=_emb_lsh_oracle(),
    doc="Banded sign-LSH near-duplicate pairs with exact in-bucket verify "
    "(C2 family, the 100 TB-scale candidate generation).",
)
def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via banded sign-LSH candidates + exact
    in-bucket GEMM verify — the scale path next to the exact
    :func:`q_embedding_neardup`.

    Plan shape (B = EMB_LSH_BANDS bands, r bits derived from N):

    1. one Arrow pass computes all B·r hyperplane signs per vector
       and packs them into B band signatures (:func:`_signatures`);
    2. ``posexplode`` fans each vector to its B (band, signature)
       bucket keys — shuffle volume is B small rows per vector,
       never pairs;
    3. per bucket, :func:`_threshold_pairs` scores all in-bucket
       pairs exactly and keeps cos ≥ threshold — precision is exact
       (verify), only candidate *generation* is approximate; a pair
       colliding in several bands is emitted by its first.

    Exactness contract: the SQL oracle recomputes the identical
    signatures from the same sha256-derived literal hyperplanes and
    derives the identical depth r from count(*) inside the SQL (pure
    integer bit-length arithmetic, the IVF-stride discipline), so
    Spark and DuckDB agree on the candidate set bit-for-bit AT ANY
    SCALE — recall is a *documented property*, not a hidden test
    flake.

    Recall (sign-LSH: P[plane agrees] = 1 − θ/π): for true near-dups
    (cos ≥ 0.9, θ ≤ 26°) a 4-bit band matches with p⁴ ≈ 0.54 and 16
    bands give recall 1−(1−p⁴)¹⁶ ≈ 99.9998%. At this synthetic
    table's loose 0.45 threshold (θ ≈ 63°, the tail of a continuous
    cosine distribution rather than planted duplicates) per-pair
    recall is ≈ 95% — a threshold this far from 1 is not an
    LSH-friendly regime, and the exact path is the ground truth
    there. At 10⁹ rows the derived r ≈ 14 keeps expected bucket size
    ≤ 64k rows, so per-bucket GEMM work is bounded and total compute
    is Σ_bucket m² ≪ N².
    """
    r = _emb_lsh_rows(table_row_count(spark, sf_dir, "embeddings"))
    e = _quantized(spark, sf_dir).withColumn(
        "sigs", _signatures(EMB_LSH_FAMILY, r)("qv")
    )
    buckets = e.select(
        "vec_id", "qv", "sq", "sigs", F.posexplode("sigs").alias("band", "sig")
    )
    return _threshold_pairs(
        buckets, ["band", "sig"], NEARDUP_COS_THRESHOLD, _first_band_owner
    )


# ---------------------------------------------------------------- IVF cells

# Centroids are a deterministic 1-in-stride sample of the table itself
# (vec_id % stride == IVF_OFFSET). The stride is derived from the
# table's row count at the classic C ≈ √N balance: stride ≈ √N gives
# C = N/√N ≈ √N centroids, so assign compute is N·C ≈ N^1.5
# multiply-adds and probe lists hold ~√N vectors each, where a fixed
# stride's C ∝ N would make the assign quadratic. Floored at
# IVF_MIN_STRIDE so small corpora keep enough rows per list to fill
# top-k; the floor binds exactly when N ≤ IVF_MIN_STRIDE², i.e. every
# oracle/bench scale (embeddings ≤ 2000 rows).
IVF_MIN_STRIDE = 50
IVF_OFFSET = 7
IVF_NPROBE = 3


def _ivf_stride(n_rows: int) -> int:
    """max(IVF_MIN_STRIDE, floor(sqrt(N))) — the same IEEE-double
    floor∘sqrt the SQL twin evaluates. IEEE 754 requires sqrt to be
    correctly rounded, and for any int64 N below 2^52 the double
    conversion is exact, so both engines derive the identical stride
    (pinned against math.isqrt in tests/test_similarity.py)."""
    return max(IVF_MIN_STRIDE, int(math.floor(math.sqrt(n_rows))))


def _centroids(e: DataFrame, stride: int) -> DataFrame:
    return e.filter(f"vec_id % {stride} = {IVF_OFFSET}").selectExpr(
        "vec_id AS cent_id", "qv AS c_qv", "sq AS c_sq"
    )


# ------------------------------------------------- ANN-family consumers


@register(
    "q_knn_classify",
    oracle=f"""
        WITH knn AS ({_oracle_knn(_ORACLE_QUANTIZED, COSINE)}),
        votes AS (
            SELECT k.query_id, e.label, count(*) AS n
            FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
            GROUP BY 1, 2
        ),
        maj AS (
            SELECT query_id, label AS pred_label, n AS n_votes,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY n DESC, label) AS rn
            FROM votes
        )
        SELECT m.query_id, m.pred_label, m.n_votes,
               t.label AS true_label,
               CASE WHEN m.pred_label = t.label THEN 1 ELSE 0 END AS hit
        FROM maj m JOIN embeddings t ON t.vec_id = m.query_id
        WHERE m.rn = 1
    """,
    doc="k-NN label transfer: majority neighbor label per query vector, "
    "with the ground-truth hit flag (C3 consumer — weak labeling).",
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The op a labeling pipeline runs on top of similarity search:
    predict each query vector's label as the majority label of its k
    exact nearest neighbors, and score it against the ground truth.

    Composition, not recomputation: consumes the :func:`q_knn_cosine`
    plan (broadcast query set, one corpus scan), joins the k·Q result
    rows — not the corpus — to the label column, takes a
    (query, label) count aggregate, and breaks majority ties on the
    smaller label so both engines agree deterministically. Everything
    after the kNN is aggregated-small: shuffle volume is k·Q rows,
    then Q.

    Reference anchor: the reference's reduce-over-groups contract
    (MapReduceClient.h:61-64) — the vote is a grouped fold over the
    neighbor relation.
    """
    knn = _cos_exact_slot(spark, sf_dir)
    e = tables(spark, sf_dir).embeddings
    nbr_lab = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("label")
    )
    votes = (
        knn.join(nbr_lab, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n"), F.asc("label"))
    maj = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("label").alias("pred_label"),
            F.col("n").alias("n_votes"),
        )
    )
    truth = e.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return maj.join(truth, "query_id").select(
        "query_id",
        "pred_label",
        "n_votes",
        "true_label",
        F.when(F.col("pred_label") == F.col("true_label"), 1)
        .otherwise(0)
        .alias("hit"),
    )


# --------------------------------------------------------- product quantization
#
# PQ (Jégou, Douze, Schmid — "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011): split each vector into PQ_M
# subspaces, quantize each subvector to its nearest of K per-subspace
# centroids, and search with asymmetric distance (query stays full
# precision; each corpus vector is PQ_M centroid ids). The point at
# 100 TB is MEMORY: a 64-dim int64-quantized vector is 512 B, its PQ
# code is PQ_M small ints — a 32-64x cut that turns "corpus codes in
# RAM, rerank survivors from storage" into a plan. On the engine's
# exactness discipline everything stays on the integer grid: centroid
# coordinates ARE quantized table rows (the IVF stride-sample
# convention — deterministic, footer-derived, no trained state),
# distances are int64 sums of squared int differences, so codes,
# distance tables, and ADC scores are bit-identical cross-engine and
# the whole pipeline is SQL-oracle-checkable — which trained-kmeans
# PQ codebooks would not be.
PQ_M = 8        # subspaces
PQ_SUBDIM = 8   # dims per subspace (embeddings are 64-dim; pytest pins)
PQ_MIN_K, PQ_MAX_K = 8, 256


def _pq_k(n_rows: int) -> int:
    """Centroids per subspace: √N clamped to [8, 256] — the IVF
    derivation (same IEEE floor∘sqrt both engines evaluate), capped
    at the classic 8-bit PQ codebook size."""
    return max(PQ_MIN_K, min(PQ_MAX_K, int(math.floor(math.sqrt(n_rows)))))


def _pq_sub_dist_sql(vec: str, m: str = "m", cv: str = "cv") -> str:
    """Exact int64 squared distance between subspace ``m``'s slice of
    quantized vector ``vec`` and the centroid slice ``cv`` — the ADC
    chain's hottest expression, as a SQL string so it parses in one
    py4j round-trip."""
    return (
        f"aggregate(zip_with(slice({vec}, {m} * {PQ_SUBDIM} + 1,"
        f" {PQ_SUBDIM}), {cv}, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _pq_centroid_slices(e: DataFrame, k_cent: int, stride: int) -> DataFrame:
    """(m, j, cv): ``k_cent`` stride-sampled codebook rows exploded
    into PQ_M subspace slices — ≤ 256×8 = 2048 thin rows, broadcast
    everywhere — the codebook of every ADC search (:func:`adc_corpus`)."""
    cent = (
        e.filter(f"vec_id % {stride} = 0")
        .selectExpr(
            "vec_id", "qv",
            "row_number() OVER (ORDER BY vec_id) - 1 AS j",
        )
        .filter(f"j < {k_cent}")
    )
    return cent.selectExpr(
        "j", f"explode(sequence(0, {PQ_M - 1})) AS m", "qv"
    ).selectExpr(
        "m", "j", f"slice(qv, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}) AS cv"
    )




def _pq_codes(
    e: DataFrame, cent_m: DataFrame, n_rows: int | None = None
) -> DataFrame:
    """Staged (vec_id, m, code) table. The encode is THE cost
    (O(N·K·M) scored distances) and its output is the asset — staged
    so every PQ consumer (search, recall evals, IVF+PQ) encodes once
    per process, exactly the persisted-codes shape a deployment keeps.

    Two regimes behind one staged name (gate: ``ANN_GEMM_MIN_ROWS``
    against the caller's footer-derived row count; None → the proven
    small-N plan):

    - *fixture scale* — the original crossJoin(broadcast) form: N·K·M
      scored rows through codegen, folded to one code per (vector,
      subspace) by a partial-aggregable min(struct(d, j)).
    - *corpus scale* — :func:`_pq_codes_gemm`: the encode IS an
      assign done once per subspace, so vectors hash into P groups, the
      ≤ 256×8-slice codebook replicates to each, and :func:`_topm`
      picks each slice's exact-L2 top-1 per (group, subspace) — the
      min(struct(d, j)) low-j rule, bit for bit. Shuffle is N + P·K·M
      thin rows; no N·K·M row set ever exists. At the sf1 rehearsal's
      N=20k: 50-60 s cold codegen → ~10 s GEMM.
    """
    if n_rows is not None and n_rows >= ANN_GEMM_MIN_ROWS:
        return stage(_pq_codes_gemm(e, cent_m, n_rows), "pq_codes")
    scored = (
        e.select("vec_id", "qv")
        .crossJoin(F.broadcast(cent_m))
        .selectExpr(
            "vec_id", "m", "j", f"{_pq_sub_dist_sql('qv')} AS d"
        )
    )
    return stage(
        scored.groupBy("vec_id", "m").agg(
            F.expr("min(struct(d, j)).j").alias("code")
        ),
        "pq_codes",
    )


def _pq_codes_gemm(
    e: DataFrame, cent_m: DataFrame, n_rows: int | None = None
) -> DataFrame:
    """The corpus-scale encode plan — see :func:`_pq_codes`."""
    import numpy as np
    import pandas as pd

    union = _fragment_replicate(
        e.select("vec_id", "qv"),
        cent_m,
        "pqenc:",
        [("vec_id", "long"), ("qv", "array<long>")],
        [("m", "int"), ("j", "int"), ("cv", "array<long>")],
        "vec_id",
        n_rows=n_rows,
    )

    chunk = GEMM_CHUNK_ROWS
    empty = pd.DataFrame(
        {
            "vec_id": pd.Series([], dtype="int64"),
            "m": pd.Series([], dtype="int32"),
            "code": pd.Series([], dtype="int32"),
        }
    )

    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        vec = pdf[pdf["side"] == 0]
        if not len(vec) or len(vec) == len(pdf):
            return empty
        cen = pdf[pdf["side"] == 1].sort_values(["m", "j"])
        n_sub = int(cen["m"].max()) + 1
        X = np.stack(vec["qv"].values).astype(np.int64)
        X = X.reshape(len(vec), n_sub, PQ_SUBDIM)
        codes = np.empty((len(vec), n_sub), dtype=np.int32)
        for m in range(n_sub):
            blk = cen[cen["m"] == m]
            Xm, C = X[:, m, :], np.stack(blk["cv"].values).astype(np.int64)
            rr, code, _ = _topm(
                L2, 1, Xm, (Xm * Xm).sum(axis=1), C, (C * C).sum(axis=1),
                blk["j"].to_numpy(np.int64), chunk,
            )
            codes[rr, m] = code
        return pd.DataFrame(
            {
                "vec_id": np.repeat(vec["vec_id"].to_numpy(np.int64), n_sub),
                "m": np.tile(np.arange(n_sub, dtype=np.int32), len(vec)),
                "code": codes.reshape(-1),
            }
        )

    return union.groupBy("pid").applyInPandas(
        encode_group, "vec_id long, m int, code int"
    )


_PQ_DIST_SQL = """list_reduce(list_transform(generate_series(1, 8),
    i -> (list_slice({v}, c.m * 8 + 1, c.m * 8 + 8)[i] - c.cv[i])
         * (list_slice({v}, c.m * 8 + 1, c.m * 8 + 8)[i] - c.cv[i])),
    (x, y) -> x + y)"""


# ------------------------------------------------------- approximate search
#
# Every approximate top-k is map → shuffle by key → reduce per key: key
# each vector to a cell, send each query to its probed cells, score the
# cell's members and keep the top k. One spec (:class:`AdcSpec`) picks
# the cells, the metric, the encoder and the rerank; :func:`adc_corpus`
# and :func:`adc_topk` build it in Spark and :func:`_oracle_adc`
# composes its DuckDB twin.


class AdcSpec(NamedTuple):
    """One approximate top-k search as a point on four axes.

    - ``cells``: ``"none"`` is one cell 0 that every query probes.
      ``"ivf"`` keys each vector to its best of ~√N stride-sampled
      centroids (:func:`_centroids`, :func:`_assign`) and sends each
      query to its ``nprobe`` best (:func:`_probe`). ``"lsh"`` keys
      each vector to its ANN_LSH_FAMILY sign bucket of LSH_BITS
      hyperplanes and sends each query to its own bucket and every
      bucket one bit flip away, 1 + LSH_BITS cells.
    - ``metric``: cells are assigned and probed, and candidates
      exactly scored, under it.
    - ``encoder``: ``"exact"`` scores a probed cell's vectors.
      ``"pq"`` scores PQ codes by asymmetric distance (ADC, Jégou et
      al., TPAMI 2011): ``_pq_k(N)`` codebook rows sampled at stride
      N div K, the query's exact int64 L2 distance table looked up on
      (subspace, code) and summed. ``"residual"`` (IVF cells) encodes
      each vector minus its cell's centroid and builds each query's
      distance table per probed cell.
    - ``rerank``: 0 keeps the encoder's top k; R keeps its top R and
      re-ranks that shortlist by the exact metric.

    Every score is exact on the quantized integer grid and every
    argmin and rank breaks ties to the lower id, so the two composers
    agree row for row.

    Where each search keeps recall (the recall rows of
    ``_ADC_LADDER`` measure it): exact kNN (:func:`knn_topk`) is the
    O(Q·N) ground truth. IVF scans ~nprobe/C of the table and keeps
    recall when true neighbours are far, the regime of the isotropic
    embeddings table, whose nearest neighbours sit near 60°. Sign-LSH
    scans ~(1 + LSH_BITS)/2^LSH_BITS of it (~3.5%) and keeps recall
    only for near duplicates: a pair within ~15° shares a probed
    bucket with P ≥ 95%, while at ~60° no angular LSH keeps recall at
    that scan fraction, so q_lsh_recall sits below q_ivf_recall. PQ
    codes cut a 512 B vector to PQ_M small ints, and reranking R =
    PQ_RERANK_R rows per query restores what the codes lose."""

    cells: str
    metric: Metric
    encoder: str
    rerank: int = 0


# The production PQ pattern: codes give a cheap shortlist, full
# vectors rerank it. R = 5k keeps the rerank window a constant
# multiple of the answer size — the knob recall tunes in deployment.
PQ_RERANK_R = 5 * KNN_K

ADC_PQ = AdcSpec("none", L2, "pq")
ADC_IVFPQ = AdcSpec("ivf", L2, "pq")
ADC_IVFADC = AdcSpec("ivf", L2, "residual")
ANN_IVF = AdcSpec("ivf", COSINE, "exact")
ANN_LSH = AdcSpec("lsh", COSINE, "exact")
PQ_RERANK = AdcSpec("none", L2, "pq", PQ_RERANK_R)


class AdcCorpus(NamedTuple):
    """The corpus side of a search. ``codes`` is (vec_id, m, code)
    under a PQ encoder or (vec_id, qv, sq) under the exact one, plus
    ``cluster`` with cells — or a function of the staged probe table
    returning that frame (the persisted index's pruned read). ``src``
    is the encoded (vec_id, qv): raw or residual."""

    spec: AdcSpec
    cents: DataFrame | None
    book: DataFrame | None
    codes: DataFrame | Callable[[DataFrame], DataFrame]
    k_cent: int
    src: DataFrame | None


def _lsh_bucket(df: DataFrame) -> DataFrame:
    """``df`` with its ANN_LSH_FAMILY sign bucket as ``cluster``."""
    return df.withColumn("cluster", _signatures(ANN_LSH_FAMILY, LSH_BITS)("qv")[0])


def adc_corpus(
    e: DataFrame, n_rows: int, spec: AdcSpec, frozen: AdcCorpus | None = None
) -> AdcCorpus:
    """Cells → (residual) → codebook → codes over a (vec_id, qv, sq)
    lineage of ``n_rows`` vectors: centroids every ``_ivf_stride(N)``-th
    vector, ``_pq_k(N)`` codebook rows at stride N div K of the encoded
    source. ``frozen`` reuses a built corpus's centroids and codebook
    (the index append). The IVF cell assignment, carrying what is
    encoded, and the codes are staged: the codebook and the encode
    both read the first, every consumer reads the second. Under the
    exact encoder the keyed vectors are the corpus."""
    exact = spec.encoder == "exact"
    k_cent = frozen.k_cent if frozen else _pq_k(n_rows)
    cents = frozen.cents if frozen else (
        _centroids(e, _ivf_stride(n_rows)) if spec.cells == "ivf" else None
    )
    src = e if exact else e.select("vec_id", "qv")
    if spec.cells == "lsh":
        src = _lsh_bucket(src)
    if spec.cells == "ivf":
        src = _assign(
            e.select("vec_id", "qv", "sq"),
            cents.selectExpr("cent_id AS cluster", "c_qv", "c_sq"),
            spec.metric,
            n_rows,
        ).select("vec_id", "cluster", "qv", *(["sq"] if exact else []))
        if spec.encoder == "residual":
            src = src.join(
                F.broadcast(cents.selectExpr("cent_id AS cluster", "c_qv")),
                "cluster",
            ).selectExpr(
                "vec_id",
                "cluster",
                "zip_with(qv, c_qv, (a, b) -> a - b) AS qv",
            )
        src = stage(src, "adc_cells")
    if exact:
        return AdcCorpus(spec, cents, None, src, k_cent, src)
    book = frozen.book if frozen else _pq_centroid_slices(
        src, k_cent, max(1, n_rows // k_cent)
    )
    codes = _pq_codes(src, book, n_rows=n_rows)
    if spec.cells != "none":
        codes = codes.join(src.select("vec_id", "cluster"), "vec_id")
    return AdcCorpus(spec, cents, book, codes, k_cent, src)


def _probes(queries: DataFrame, corpus: AdcCorpus, nprobe: int, n_queries: int):
    """(query_id, q_qv, q_sq, probe) rows of a (vec_id, qv, sq) query
    batch under the corpus's cells (no probe without cells), and a
    bound on their count."""
    spec = corpus.spec
    if spec.cells == "ivf":
        probe = _probe(queries, corpus.cents, nprobe, spec.metric, n_queries)
        return probe, n_queries * nprobe
    q = ["vec_id AS query_id", "qv AS q_qv", "sq AS q_sq"]
    if spec.cells == "none":
        return queries.selectExpr(*q), n_queries
    flips = ", ".join(f"cluster ^ {1 << j}" for j in range(LSH_BITS))
    return _lsh_bucket(queries).selectExpr(
        *q, f"explode(array(cluster, {flips})) AS probe"
    ), n_queries * (1 + LSH_BITS)


def adc_topk(
    queries: DataFrame,
    corpus: AdcCorpus,
    k: int = KNN_K,
    nprobe: int = IVF_NPROBE,
    n_queries_bound: int | None = None,
    _stage=stage,
) -> DataFrame:
    """Top-``k`` (query_id, neighbor_id, rnk, score) per query of a
    (vec_id, qv, sq) batch over ``corpus``. Each query meets the
    members of its probed cells; the exact encoder scores them under
    the spec's metric, a PQ encoder joins their codes with the query's
    distance table on (m, code) and ranks the sum over subspaces by
    (adc, neighbor_id). Under a PQ encoder the IVF probe GEMM's output
    is staged, and so is the per-(query, cell) residual table, each
    read by several consumers; ``_stage`` lets the streaming probe swap
    in a per-epoch stager. Runtime-sized broadcasts are gated on
    ``n_queries_bound`` (None: one count job)."""
    spec = corpus.spec
    n_queries = queries.count() if n_queries_bound is None else n_queries_bound
    codes, on, n_tab = corpus.codes, "d_m = m AND d_j = code", n_queries
    if spec.encoder == "exact" or spec.cells != "none":
        probes, n_probes = _probes(queries, corpus, nprobe, n_queries)
    if spec.encoder == "exact":
        keyed = "" if spec.cells == "none" else "cluster = probe AND "
        return _exact_top_k(
            broadcast_if_small(probes, n_probes).join(
                codes, F.expr(f"{keyed}vec_id != query_id")
            ),
            spec.metric,
            k,
        )
    if spec.cells != "none":
        probes = _stage(probes.select("query_id", "q_qv", "probe"), "adc_probes")
        if callable(codes):
            codes = codes(probes)
        codes = broadcast_if_small(probes.select("query_id", "probe"), n_probes).join(
            codes, F.expr("cluster = probe AND vec_id != query_id")
        )
        on += " AND d_query_id = query_id"
    else:
        on += " AND vec_id != d_query_id"
    if spec.encoder == "residual":
        qv = probes.join(
            F.broadcast(corpus.cents.selectExpr("cent_id AS probe", "c_qv")),
            "probe",
        ).selectExpr(
            "query_id AS d_query_id",
            "probe AS d_probe",
            "zip_with(q_qv, c_qv, (a, b) -> a - b) AS rq",
        )
        on += " AND d_probe = probe"
        n_tab *= nprobe
    else:
        qv = queries.selectExpr("vec_id AS d_query_id", "qv AS rq")
    dtab = qv.crossJoin(F.broadcast(corpus.book)).selectExpr(
        *[c for c in qv.columns if c != "rq"],
        "m AS d_m",
        "j AS d_j",
        f"{_pq_sub_dist_sql('rq')} AS d",
    )
    if spec.encoder == "residual":
        dtab = _stage(dtab, "adc_dtab")
    adc = (
        codes.join(
            broadcast_if_small(dtab, n_tab * PQ_M * corpus.k_cent), F.expr(on)
        )
        .selectExpr("d_query_id AS query_id", "vec_id AS neighbor_id", "d")
        .groupBy("query_id", "neighbor_id")
        .agg(F.expr("sum(d) AS adc"))
    )
    return _top_k(adc, "adc ASC", k, "query_id", "neighbor_id", "rnk", "adc")


def adc_search(
    e: DataFrame, n_rows: int, spec: AdcSpec, k: int = KNN_K
) -> DataFrame:
    """The in-plan search: ``e``'s query set (KNN_QUERY_PRED over
    contiguous ids, so at most N div 100 + 1 queries) against its own
    corpus; a reranking spec re-scores its top R against ``e``'s full
    vectors, R·Q rows, never the corpus."""
    n_queries = n_rows // 100 + 1
    queries = e.filter(KNN_QUERY_PRED)
    top = adc_topk(
        queries,
        adc_corpus(e, n_rows, spec),
        spec.rerank or k,
        n_queries_bound=n_queries,
    )
    if not spec.rerank:
        return top
    # query-set rows only, size-gated: broadcasting the unfiltered
    # corpus here would be the unbounded-broadcast class plans/hints.py
    # exists to prevent
    qside = queries.selectExpr("vec_id AS query_id", "qv AS q_qv", "sq AS q_sq")
    pairs = (
        top.selectExpr("query_id", "neighbor_id AS vec_id")
        .join(broadcast_if_small(qside, n_queries), "query_id")
        .join(e.select("vec_id", "qv", "sq"), "vec_id")
    )
    return _exact_top_k(pairs, spec.metric, k)


_RESID_SQL = (
    "list_transform(generate_series(1, 64), i -> {v}.qv[i] - c.qv[i])"
)


def _oracle_adc(src: str, spec: AdcSpec, k: int = KNN_K) -> str:
    """DuckDB twin of :func:`adc_search` over a (vec_id, qv) source
    query: (query_id, neighbor_id, rnk, score). Every size derives
    from the embeddings table's count(*), the footer count the Spark
    side reads."""
    m = spec.metric
    n = "(SELECT count(*) FROM embeddings)"

    def nearest(a: str) -> str:
        return f"{m.duck.format(a=a, b='c')}{' DESC' if m.desc else ''}, c.cent_id"

    if spec.cells == "ivf":
        cells = f"""
        icent AS MATERIALIZED (
            SELECT vec_id AS cent_id, qv, sq FROM p
            WHERE vec_id % greatest({IVF_MIN_STRIDE},
                               CAST(floor(sqrt({n})) AS BIGINT)) = {IVF_OFFSET}
        ),
        assigned AS MATERIALIZED (
            SELECT vec_id, cent_id AS cluster FROM (
                SELECT v.vec_id, c.cent_id,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {nearest('v')}) AS rn
                FROM p v, icent c
            ) WHERE rn = 1
        ),
        probes AS MATERIALIZED (
            SELECT query_id, cent_id AS probe FROM (
                SELECT q.vec_id AS query_id, c.cent_id,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {nearest('q')}) AS rn
                FROM p q, icent c WHERE q.{KNN_QUERY_PRED}
            ) WHERE rn <= {IVF_NPROBE}
        ),"""
    elif spec.cells == "lsh":
        sig = _oracle_sig(_hyperplane_signs(ANN_LSH_FAMILY, LSH_BITS))
        flips = ", ".join(str(f) for f in [0] + [1 << j for j in range(LSH_BITS)])
        cells = f"""
        assigned AS MATERIALIZED (SELECT vec_id, {sig} AS cluster FROM p),
        probes AS (
            SELECT a.vec_id AS query_id, xor(a.cluster, t.f) AS probe
            FROM assigned a, unnest([{flips}]) AS t(f)
            WHERE a.{KNN_QUERY_PRED}
        ),"""
    else:
        cells = f"""
        assigned AS (SELECT vec_id, 0 AS cluster FROM p),
        probes AS (
            SELECT vec_id AS query_id, 0 AS probe FROM p
            WHERE {KNN_QUERY_PRED}
        ),"""
    head = f"""
        WITH p AS MATERIALIZED (
            SELECT vec_id, qv, list_dot_product(qv, qv) AS sq FROM ({src})
        ),{cells}
        cand AS MATERIALIZED (
            SELECT pr.query_id, pr.probe, a.vec_id AS neighbor_id
            FROM probes pr
            JOIN assigned a ON a.cluster = pr.probe AND a.vec_id <> pr.query_id
        ),"""
    if spec.encoder != "exact":
        if spec.encoder == "residual":
            enc = f"""SELECT a.vec_id, {_RESID_SQL.format(v='v')} AS qv
            FROM assigned a
            JOIN p v ON v.vec_id = a.vec_id
            JOIN icent c ON c.cent_id = a.cluster"""
            qvec = f"""SELECT pr.query_id, pr.probe,
                   {_RESID_SQL.format(v='q')} AS qv
            FROM probes pr
            JOIN p q ON q.vec_id = pr.query_id
            JOIN icent c ON c.cent_id = pr.probe"""
        else:
            enc = "SELECT vec_id, qv FROM p"
            qvec = """SELECT pr.query_id, pr.probe, q.qv
            FROM probes pr JOIN p q ON q.vec_id = pr.query_id"""
        k_sql = f"greatest({PQ_MIN_K}, least({PQ_MAX_K}, CAST(floor(sqrt(n)) AS BIGINT)))"
        head += f"""
        kk AS MATERIALIZED (
            SELECT {k_sql} AS k, greatest(1, n // {k_sql}) AS stride
            FROM (SELECT {n} AS n)
        ),
        enc AS MATERIALIZED ({enc}),
        cent0 AS MATERIALIZED (
            SELECT vec_id, qv,
                   row_number() OVER (ORDER BY vec_id) - 1 AS j
            FROM enc, kk WHERE vec_id % stride = 0
        ),
        cent AS MATERIALIZED (
            SELECT m, j, list_slice(qv, m * 8 + 1, m * 8 + 8) AS cv
            FROM (SELECT * FROM cent0, kk WHERE j < k),
                 (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m)
        ),
        codes AS MATERIALIZED (
            SELECT vec_id, m, j AS code FROM (
                SELECT v.vec_id, c.m, c.j,
                       row_number() OVER (
                           PARTITION BY v.vec_id, c.m
                           ORDER BY {_PQ_DIST_SQL.format(v='v.qv')}, c.j
                       ) AS rn
                FROM enc v, cent c
            ) WHERE rn = 1
        ),
        qvec AS MATERIALIZED ({qvec}),
        qd AS MATERIALIZED (
            SELECT q.query_id, q.probe, c.m, c.j,
                   {_PQ_DIST_SQL.format(v='q.qv')} AS d
            FROM qvec q, cent c
        ),
        adc AS MATERIALIZED (
            SELECT c.query_id, c.neighbor_id, sum(qd.d) AS adc
            FROM cand c
            JOIN codes ON codes.vec_id = c.neighbor_id
            JOIN qd ON qd.query_id = c.query_id AND qd.probe = c.probe
                   AND qd.m = codes.m AND qd.j = codes.code
            GROUP BY 1, 2
        ),"""
        if not spec.rerank:
            return head.rstrip(",") + _oracle_top(
                "adc", "adc", False, "CAST(adc AS BIGINT) AS adc", k
            )
        head += f"""
        short AS ({_oracle_top('adc', 'adc', False, 'adc', spec.rerank)}),"""
    return head + f"""
        exact AS (
            SELECT s.query_id, s.neighbor_id,
                   {m.duck.format(a='q', b='v')} AS {m.col}
            FROM {'short' if spec.rerank else 'cand'} s
            JOIN p q ON q.vec_id = s.query_id
            JOIN p v ON v.vec_id = s.neighbor_id
        ){_oracle_top('exact', m.col, m.desc, m.emit, k)}"""


@register(
    "q_knn_l2",
    oracle=_oracle_knn(_ORACLE_QUANTIZED, L2),
    doc="Exact top-k EUCLIDEAN neighbors (int64 squared distances) — "
    "the metric twin of q_knn_cosine and the PQ ground truth (C3).",
)
def q_knn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact L2 kNN with the q_knn_cosine plan shape (broadcast query
    set, one corpus scan, top-k window) and the SAME lazy broadcast
    budget guard; distances are pure int64 (sq_q + sq_n - 2·dot on
    the quantized grid), so even the emitted distance hash-matches.
    L2 is the metric PQ's ADC approximates: on this table's
    unnormalized vectors it ranks differently from cosine, so PQ
    recall is measured against this truth."""
    return knn_topk(
        _quantized(spark, sf_dir),
        L2,
        "q_knn_l2",
        n_rows=table_row_count(spark, sf_dir, "embeddings"),
    )


def _l2_exact_slot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_knn_l2 result staged once per process — the isotropic
    ground truth every PQ recall evaluation compares against."""
    return slot(spark, "knn_l2_topk", sf_dir, lambda: q_knn_l2(spark, sf_dir))


# ------------------------------------------------- L2-normalized PQ

# Re-quantization scale for unit vectors: elements of a normalized
# vector are ≤ 1, so ×10⁴ keeps ~4 significant digits; products
# ≤ 1e8 and 64-dim sums ≤ 6.4e9 — exact in int64 AND in doubles, the
# same headroom argument as functions/vectors.QUANT_SCALE.
NORM_SCALE = 10_000


def _l2_normalize(e: DataFrame) -> DataFrame:
    """Integer-grid L2 normalization of any (vec_id, qv, sq) frame —
    factored so the anisotropic-fixture variant reuses the exact
    arithmetic the oracle twin mirrors. SQL-string form: the same
    expression tree in two py4j calls instead of ~60."""
    return e.selectExpr(
        "vec_id",
        f"transform(qv, x -> CAST(round(CAST(x AS DOUBLE) * {NORM_SCALE}"
        " / sqrt(CAST(greatest(sq, 1) AS DOUBLE))) AS BIGINT)) AS qv",
    ).selectExpr("*", f"{sq_norm_sql('qv')} AS sq")


def _oracle_norm_qv(src: str) -> str:
    """DuckDB twin of :func:`_l2_normalize` over any (vec_id, qv,
    sq) source."""
    return f"""
        SELECT vec_id,
               list_transform(qv, x -> CAST(round(x::DOUBLE * {NORM_SCALE}
                   / sqrt(greatest(sq, 1)::DOUBLE)) AS BIGINT)) AS qv
        FROM ({src})
"""


# ------------------------------------------- anisotropic ANN fixture
#
# On the isotropic fixture every recall rung sits at parity:
# uniform-random synthetic vectors have concentrated norms and no
# cluster structure, so normalization, coarse cells, and residual
# codebooks have nothing to exploit and the recall axis cannot rank
# the ANN family it exists to rank.
# This section derives a deterministic ANISOTROPIC embedding set
# from the SAME embeddings table (row set and vec_id space
# preserved, so the query predicate, stride-derived codebook
# constants, and footer counts all carry over unchanged):
#
#   qv[j] = center(g(vec_id), j) + noise(vec_id, j) · w(j)
#   with the MID-SQUARE mix  mix(a, b) = ((h·h) mod SQMOD),
#        h = (a + b) mod PREMOD:
#   g(v) = mix((v+1)·GM, GSEED) mod CLUSTERS   — pseudo-random
#   center(g, j) = (mix((g+1)·A, (j+1)·BJ) mod SPAN − SPAN//2)·SCALE
#   noise(v, j)  =  mix((v+1)·C, (j+1)·CJ) mod NSPAN − NSPAN//2
#   w(j) = max(1, WNUM // (j+1)²)              — decaying spectrum
#
# g must be a HASH of vec_id, not vec_id mod CLUSTERS (third
# measured failure mode): the IVF stages sample centroids at
# vec_id % stride = OFFSET, and an arithmetic cluster id aliases
# with the arithmetic sampler — at N=500, stride 50 against
# vec_id%32 has gcd(18·k mod 32) structure that leaves HALF the
# clusters with no centroid at all, so those vectors get assigned
# to far cells, residuals blow up to between-cluster magnitude, and
# residual ≡ raw again. CLUSTERS = 8 (not 32) so the smallest
# fixture's C = N/stride = 10 coarse cells can actually cover the
# cluster set.
#
# w(j) is the fourth load-bearing choice: with FLAT per-dim noise,
# 64-dim iid distances concentrate (rank gaps ≪ any codebook's
# quantization error) and the whole ladder compresses into a band
# (measured: raw/ivfpq/resid within 0.04 of each other either side).
# The (j+1)⁻² decay gives ~2-4 effective noise dimensions — the
# decaying eigenspectrum real embedding corpora have — where the
# residual codebook's ~8× entry-density advantage over raw codes'
# per-cluster share becomes a resolution advantage distances can
# feel. NumPy prototype of this exact integer pipeline (validated
# against the Spark plans at the flat-noise setting, equal to 3
# decimals): WNUM=512 → raw/norm/ivfpq/resid = .48/.54/.48/.58 at
# N=500, .30/.285/.305/.555 at N=2000.
#
# Pure int64 arithmetic on nonnegative operands — bit-identical in
# Spark and DuckDB — so every oracle stays exact. The SQUARING is
# load-bearing, found the hard way (both failures measured, kept
# here as the negative result): an affine mix ((v·C + j·D) mod
# NSPAN) gives any two vectors per-dim noise differences taking only
# TWO values (constant offset ± one wraparound), and a multiplicative
# mix ((v+1)(j+D)·C mod BIG mod NSPAN) reduces to ~affine because
# the big modulus rarely wraps at fixture magnitudes — both collapse
# pair distances onto a few massively-tied levels, so recall
# measured tie-breaking, not geometry (symptom: recall ladders
# IDENTICAL at sf0.001 and sf0.01 — 0.60/0.60/0.60/0.76 affine,
# 0.64/0.58/0.64/0.64 multiplicative). Squaring h makes the residue
# mod SQMOD quadratic in (v, j): measured 196 distinct per-dim
# differences over 5 pairs × 64 dims (vs 2), continuous distance
# spectra, and no period at 201/402/6432/SQMOD. Overflow headroom:
# h < PREMOD = 2^31−1 ⇒ h² < 4.62e18 < 2^63.
#
# Geometry: 32 cluster centers on a coarse integer lattice (±8·4000
# per dim) with bounded integer noise (±100), i.e. low intrinsic
# dimension: true neighbors are cluster-mates separated by noise
# only, while between-cluster distances are ~40× larger. That is the
# regime real embedding corpora live in, and the one where the
# ladder's rungs should separate: residual codebooks quantize a
# ±200 noise cube instead of the full lattice span, coarse cells
# align with true clusters, and normalization collapses the
# lattice's radial spread.
ANISO_CLUSTERS = 8
ANISO_SPAN = 17          # lattice points per dim
ANISO_HALF = ANISO_SPAN // 2
ANISO_SCALE = 4000       # lattice pitch in grid units (4.0 floats)
ANISO_NOISE_SPAN = 201   # noise in [-100, 100] grid units
ANISO_NOISE_HALF = ANISO_NOISE_SPAN // 2
ANISO_MIX_A = 2654435761  # Knuth multiplicative hash constant (g)
ANISO_MIX_BJ = 40503      # j multiplier (center mix)
ANISO_MIX_C = 48271       # Lehmer/MINSTD multiplier (v)
ANISO_MIX_CJ = 999_983    # j multiplier (noise mix; prime)
ANISO_GMUL = 69_621       # v multiplier (cluster-id hash)
ANISO_GSEED = 12_345      # additive seed (cluster-id hash)
ANISO_PREMOD = 2_147_483_647  # Mersenne prime 2^31-1: bounds h
ANISO_SQMOD = 1_000_003       # prime: scrambles h² before the span mod
ANISO_WNUM = 512          # w(j) numerator: per-dim noise decay


def _aniso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv, sq) anisotropic int64 vectors derived from the
    embeddings table's vec_id space — see the section comment."""
    return _aniso_from(tables(spark, sf_dir).embeddings)


def _spark_midsquare_sql(h: str) -> str:
    """The section comment's mid-square mix h² mod SQMOD, with h
    reduced mod PREMOD, as Spark SQL — h appears twice (no let-binding
    in SQL lambdas), same value either way."""
    return (
        f"((({h}) % {ANISO_PREMOD}) * (({h}) % {ANISO_PREMOD}))"
        f" % {ANISO_SQMOD}"
    )


def _aniso_from(e: DataFrame) -> DataFrame:
    """The fixture derivation over any (vec_id, embedding) frame —
    split from :func:`_aniso` so the degenerate-row guards below are
    unit-testable without a parquet table. A NULL embedding is not a
    vector: its row is dropped, as the oracle twin drops it.

    SQL-string form: the nested mid-square lambda tree cost
    ~200 py4j round-trips per construction via the Column API; one
    selectExpr carries the identical expression (value parity pinned
    by test_aniso_sql_form_matches_column_form and every aniso
    oracle). w(j) stays float-div-then-trunc (CAST(512 / ((j+1)²) AS
    BIGINT)) — same two IEEE ops as the Column form it replaces."""
    g = (
        f"({_spark_midsquare_sql(f'(vec_id + 1) * {ANISO_GMUL} + {ANISO_GSEED}')})"
        f" % {ANISO_CLUSTERS}"
    )
    center_h = f"(({g}) + 1) * {ANISO_MIX_A} + (j + 1) * {ANISO_MIX_BJ}"
    noise_h = f"(vec_id + 1) * {ANISO_MIX_C} + (j + 1) * {ANISO_MIX_CJ}"
    qv = (
        "transform(sequence(CAST(0 AS BIGINT),"
        " CAST(size(embedding) - 1 AS BIGINT)),"
        f" j -> ((({_spark_midsquare_sql(center_h)}) % {ANISO_SPAN}"
        f" - {ANISO_HALF}) * {ANISO_SCALE})"
        f" + ((({_spark_midsquare_sql(noise_h)}) % {ANISO_NOISE_SPAN}"
        f" - {ANISO_NOISE_HALF})"
        f" * greatest(1, CAST({ANISO_WNUM} / ((j + 1) * (j + 1))"
        " AS BIGINT))))"
    )
    # for a zero-length embedding Spark's sequence(0, -1) yields a
    # DESCENDING [0, -1] while DuckDB's generate_series(0, -1) yields
    # [] — guard so both engines emit an empty qv and the
    # integer-exact oracle parity survives degenerate rows.
    q = e.filter("embedding IS NOT NULL").selectExpr(
        "vec_id",
        f"CASE WHEN size(embedding) > 0 THEN {qv}"
        " ELSE CAST(array() AS ARRAY<BIGINT>) END AS qv",
    )
    return q.selectExpr("*", f"{sq_norm_sql('qv')} AS sq")


# h must appear twice in SQL (no let-binding inside list_transform
# lambdas), so the mid-square is spelled via a template.
_SQL_MIDSQUARE = (
    "((({h}) % {premod}) * (({h}) % {premod})) % {sqmod}"
)
_SQL_ANISO_G = (
    _SQL_MIDSQUARE.format(
        h=f"(vec_id + 1) * {ANISO_GMUL} + {ANISO_GSEED}",
        premod=ANISO_PREMOD,
        sqmod=ANISO_SQMOD,
    )
    + f" % {ANISO_CLUSTERS}"
)
_SQL_ANISO_CENTER_H = (
    f"(({_SQL_ANISO_G}) + 1) * {ANISO_MIX_A} + (j + 1) * {ANISO_MIX_BJ}"
)
_SQL_ANISO_NOISE_H = f"(vec_id + 1) * {ANISO_MIX_C} + (j + 1) * {ANISO_MIX_CJ}"

_ORACLE_ANISO_QV = f"""
        SELECT vec_id,
               list_transform(generate_series(0, len(embedding) - 1),
                   j -> (({_SQL_MIDSQUARE.format(h=_SQL_ANISO_CENTER_H,
                                                 premod=ANISO_PREMOD,
                                                 sqmod=ANISO_SQMOD)})
                          % {ANISO_SPAN} - {ANISO_HALF}) * {ANISO_SCALE}
                        + (({_SQL_MIDSQUARE.format(h=_SQL_ANISO_NOISE_H,
                                                   premod=ANISO_PREMOD,
                                                   sqmod=ANISO_SQMOD)})
                           % {ANISO_NOISE_SPAN} - {ANISO_NOISE_HALF})
                          * greatest(1, {ANISO_WNUM}
                                        // ((j + 1) * (j + 1))))
               AS qv
        FROM embeddings
        WHERE embedding IS NOT NULL
"""
_ORACLE_ANISO_QUANTIZED = f"""
        SELECT vec_id, qv, list_dot_product(qv, qv) AS sq
        FROM ({_ORACLE_ANISO_QV})
"""


def _aniso_exact_slot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact L2 kNN over the aniso table, staged once per process —
    the shared ground-truth side of the aniso ladder (one guard
    label so all consumers hash to the same slot)."""
    return slot(
        spark,
        "knn_l2_aniso_topk",
        sf_dir,
        lambda: knn_topk(
            _aniso(spark, sf_dir),
            L2,
            "knn_l2_aniso",
            n_rows=table_row_count(spark, sf_dir, "embeddings"),
        ),
    )


# OPQ rotation rung. Parametric OPQ (Ge et al., CVPR 2013, "Optimized
# Product Quantization") pre-multiplies the data by an orthogonal R
# chosen to balance variance across PQ subspaces. Restricted to a
# PERMUTATION matrix, R stays on the int64 grid, so the DuckDB twin
# is bit-exact. Two honest scoping
# notes, reasoned before building:
# - sign flips are theater here: per-dim squared differences are
#   sign-invariant, so a signed permutation's recall is identical to
#   the unsigned one's — omitted rather than decorated.
# - a WITHIN-block Hadamard provably cancels too: codebooks are
#   stride-sampled data rows, so any within-subspace orthogonal map
#   applies consistently to vectors and centroids and scales every
#   sub-distance by the same factor — ADC ranks are unchanged. The
#   only OPQ lever that binds under sampled codebooks is the
#   dim→subspace ALLOCATION, which is exactly what this rung isolates.
# The permutation is the 8×8 TRANSPOSE of the natural layout: new dim
# i takes old dim (i mod M)·S + i div M, so subspace m receives old
# dims {m, m+8, …, m+56} — one dim from each "octave" of the fixture's
# (j+1)⁻² decaying noise spectrum instead of subspace 0 hoarding all
# eight high-noise dims. That is OPQ's eigenvalue-allocation heuristic
# (balance the PRODUCT of subspace variances; measured on the fixture:
# natural per-subspace noise-var sums [1.0e9, 3.7e5, 2.7e4, …] vs
# transposed [9.3e8, 5.4e7, 1.0e7, 3.3e6, …] — far more balanced in
# log-variance). NumPy twin of the full integer pipeline: raw
# 0.48 / 0.30 → permuted 0.56 / 0.565 recall@10 at N=500 / N=2000.
_OPQ_DIM = PQ_M * PQ_SUBDIM


def _opq_permute(e: DataFrame) -> DataFrame:
    """(vec_id, qv, sq) with qv transpose-permuted — orthogonal, so
    L2 distances (and sq) are preserved exactly; only the PQ
    subspace allocation changes. Non-64-dim rows pass through
    unpermuted (both engines agree — see the aniso empty-row guard).
    SQL-string form; the index arithmetic keeps the Column
    form's float-div-then-trunc CAST(i / M AS BIGINT)."""
    permuted = (
        f"transform(sequence(0, {_OPQ_DIM - 1}),"
        f" i -> element_at(qv, CAST((i % {PQ_M}) * {PQ_SUBDIM}"
        f" + CAST(i / {PQ_M} AS BIGINT) + 1 AS INT)))"
    )
    return e.selectExpr(
        "vec_id",
        f"CASE WHEN size(qv) = {_OPQ_DIM} THEN {permuted}"
        " ELSE qv END AS qv",
    ).selectExpr("*", f"{sq_norm_sql('qv')} AS sq")


_ORACLE_OPQ_ANISO_QV = f"""
        SELECT vec_id,
               CASE WHEN len(qv) = {_OPQ_DIM}
                    THEN list_transform(
                             generate_series(0, {_OPQ_DIM - 1}),
                             i -> qv[(i % {PQ_M}) * {PQ_SUBDIM}
                                     + (i // {PQ_M}) + 1])
                    ELSE qv END AS qv
        FROM ({_ORACLE_ANISO_QV})
"""


# ------------------------------------------------------- the ADC ladder
#
# The searches and their recall@k evaluations are rows of one
# (fixture × spec) table; each row's builder and oracle are generated
# from the same fixture and AdcSpec. Measured mean recall@10, sf0.01 /
# sf0.1 (N = 500 / 2000; sf0.001 shares N = 500):
#
#   isotropic   IVF+PQ 0.26 (sf0.01)   residual IVFADC 0.20 (sf0.01)
#   aniso       PQ 0.48 / 0.300        IVF+PQ 0.48 / 0.305
#               normalized PQ 0.54 / 0.285   residual 0.58 / 0.555
#   aniso OPQ   PQ 0.56 / 0.565        residual 0.68 / 0.840
#
# Uniform-random vectors leave cells and residual codebooks nothing
# to exploit, so the isotropic rungs sit at parity. On the clustered
# fixture probing cells costs no recall, normalization is a wash,
# and residual codebooks and the OPQ allocation each remove a
# different error term, so together they compound.


class AdcFixture(NamedTuple):
    """A lineage the ladder searches, its staged exact top-k slot, and
    the DuckDB twins of both."""

    lineage: Callable[[SparkSession, str], DataFrame]
    exact: Callable[[SparkSession, str], DataFrame]
    src_sql: str
    exact_sql: str


def _aniso_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _opq_permute(_aniso(spark, sf_dir))


def _aniso_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _l2_normalize(_aniso(spark, sf_dir))


def _aniso_norm_exact_slot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return slot(
        spark,
        "knn_l2_aniso_norm_topk",
        sf_dir,
        lambda: knn_topk(
            _aniso_norm(spark, sf_dir),
            L2,
            "knn_l2_aniso_norm",
            n_rows=table_row_count(spark, sf_dir, "embeddings"),
        ),
    )


_ORACLE_ANISO_KNN_L2 = _oracle_knn(_ORACLE_ANISO_QUANTIZED, L2)
_ORACLE_ANISO_NORM_QV = _oracle_norm_qv(_ORACLE_ANISO_QUANTIZED)

_ISO_COS = AdcFixture(
    _quantized,
    _cos_exact_slot,
    _ORACLE_QUANTIZED,
    _oracle_knn(_ORACLE_QUANTIZED, COSINE),
)
_ISO = AdcFixture(
    _quantized, _l2_exact_slot, _ORACLE_QUANTIZED, _oracle_knn(_ORACLE_QUANTIZED, L2)
)
_ANISO = AdcFixture(
    _aniso, _aniso_exact_slot, _ORACLE_ANISO_QV, _ORACLE_ANISO_KNN_L2
)
# a permutation is orthogonal, so exact kNN is unchanged: the OPQ rows
# keep the unpermuted aniso ground truth
_ANISO_OPQ = AdcFixture(
    _aniso_opq, _aniso_exact_slot, _ORACLE_OPQ_ANISO_QV, _ORACLE_ANISO_KNN_L2
)
_ANISO_NORM = AdcFixture(
    _aniso_norm,
    _aniso_norm_exact_slot,
    _ORACLE_ANISO_NORM_QV,
    _oracle_knn(
        "SELECT vec_id, qv, list_dot_product(qv, qv) AS sq "
        f"FROM ({_ORACLE_ANISO_NORM_QV})",
        L2,
    ),
)


def _ladder_search(fixture: AdcFixture, spec: AdcSpec):
    """Builder: ``spec``'s search over ``fixture``."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        n = table_row_count(spark, sf_dir, "embeddings")
        return adc_search(fixture.lineage(spark, sf_dir), n, spec)

    return build


def _ladder_recall(fixture: AdcFixture, spec: AdcSpec):
    """Builder: recall@k of ``spec``'s search over ``fixture`` against
    the fixture's exact slot."""
    search = _ladder_search(fixture, spec)

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        approx = search(spark, sf_dir)
        return _recall_vs(fixture.exact(spark, sf_dir), approx)

    return build


def _ladder_oracle(fixture: AdcFixture, spec: AdcSpec) -> str:
    return _oracle_recall(
        fixture.exact_sql, _oracle_adc(fixture.src_sql, spec)
    )


_SEARCHES = (
    (
        "q_ann_ivf", ANN_IVF,
        "Approximate top-k cosine via IVF coarse quantization (C3 scale path).",
    ),
    (
        "q_ann_lsh", ANN_LSH,
        "Approximate top-k cosine via multi-probe random-hyperplane LSH "
        "(C3 scale path).",
    ),
    (
        "q_pq_ann", ADC_PQ,
        "Product-quantization ANN: stride-sampled integer codebooks, "
        "asymmetric-distance top-k via a broadcast distance-table lookup "
        "join — the 32-64x memory-compression member of the C3 family.",
    ),
)

for _name, _spec, _doc in _SEARCHES:
    register(_name, oracle=_oracle_adc(_ISO.src_sql, _spec), doc=_doc)(
        _ladder_search(_ISO, _spec)
    )

_ADC_LADDER = (
    (
        "q_ivf_recall", _ISO_COS, ANN_IVF,
        "ANN quality evaluation: per-query recall@k of the IVF index "
        "against the exact kNN ground truth (C3 consumer).",
    ),
    (
        "q_lsh_recall", _ISO_COS, ANN_LSH,
        "ANN quality evaluation: per-query recall@k of the multi-probe "
        "LSH search against the exact kNN ground truth (C3 consumer).",
    ),
    (
        "q_pq_rerank_recall", _ISO, PQ_RERANK,
        "PQ shortlist + exact rerank: recall@k of the top-5k ADC "
        "candidates reranked at full precision — the deployed PQ shape "
        "(codes shortlist from RAM, vectors rerank from storage).",
    ),
    (
        "q_ivfpq_recall", _ISO, ADC_IVFPQ,
        "IVF+PQ composed ANN (coarse cells + in-cell ADC — the "
        "corpus-scale deployment shape): per-query recall@k vs the exact "
        "L2 truth, scan fraction ~nprobe/C at 32-64x compressed bytes "
        "per scanned vector (C3).",
    ),
    (
        "q_ivfpq_residual_recall", _ISO, ADC_IVFADC,
        "Residual IVF+PQ (true IVFADC): PQ codebooks over exact "
        "integer residuals (vector - cell centroid), per-(query, cell) "
        "distance tables — the deployed corpus-scale shape, fully "
        "oracle-checked via stride-sampled residual codebooks (C3).",
    ),
    (
        "q_pq_recall_aniso", _ANISO, ADC_PQ,
        "PQ recall on the anisotropic fixture — the raw-code rung of "
        "the rankable ANN ladder (C3).",
    ),
    (
        "q_pq_recall_normalized_aniso", _ANISO_NORM, ADC_PQ,
        "PQ recall on the L2-normalized anisotropic fixture — the "
        "normalization rung of the rankable ANN ladder (C3).",
    ),
    (
        "q_ivfpq_recall_aniso", _ANISO, ADC_IVFPQ,
        "IVF+PQ recall on the anisotropic fixture — the "
        "probed-cells rung of the rankable ANN ladder (C3).",
    ),
    (
        "q_ivfpq_residual_recall_aniso", _ANISO, ADC_IVFADC,
        "Residual IVFADC recall on the anisotropic fixture — the "
        "residual-codebook rung of the rankable ANN ladder (C3).",
    ),
    (
        "q_opq_recall_aniso", _ANISO_OPQ, ADC_PQ,
        "OPQ-permuted PQ recall on the anisotropic fixture — the "
        "rotation rung of the rankable ANN ladder (C3).",
    ),
    (
        "q_opq_residual_recall_aniso", _ANISO_OPQ, ADC_IVFADC,
        "OPQ allocation + residual codebooks composed — the top rung "
        "of the rankable ANN ladder (C3).",
    ),
)

for _name, _fixture, _spec, _doc in _ADC_LADDER:
    register(_name, oracle=_ladder_oracle(_fixture, _spec), doc=_doc)(
        _ladder_recall(_fixture, _spec)
    )
