"""Compaction-trigger experiment for the persisted ANN index
(VERDICT r15 ask #3): how much appended, how much drifted, before a
rebuild pays?

``append_ann_index`` encodes new vectors against the FROZEN corpus
centroids + codebook (quality contract: "the corpus codebook's"), and
``_commit_index_manifest`` accumulates ``appended_rows`` — but nothing
consumed that number. This script turns the contract into measured
recall:

- corpus = the registered fixture lineage (OPQ-permuted aniso over
  the embeddings table) — exactly what q_ann_index_probe indexes.
- appended batch = a RATIO-sized slice of the same generator under
  fresh vec_ids, in two variants:
  - control: the same distribution (no drift — pure ratio effect);
  - drifted: every vector translated by a constant offset of half
    the generator's center half-span per dimension (translation
    preserves in-batch geometry exactly — same clusters, same local
    neighborhoods — while moving the batch's mass away from the
    corpus centroids: the canonical covariate-shift drill).
- for each (ratio, variant): recall@10 of the APPENDED vectors'
  queries (vec_id % 100 == 0 inside the batch) against the exact L2
  ground truth over corpus ∪ batch, probed two ways — the appended
  index (frozen artifacts) vs a full rebuild over the union — plus
  the wall cost of each path. The trigger is where the recall gap
  justifies the rebuild wall.

Usage: ``python scripts/ann_append_drift.py [sf_dir]``. Prints one
JSON object; also written to ``ann_append_drift_r{N}.json`` next to
bench.py (builder-artifact naming, same round rule as bench_full).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

RATIOS = (0.1, 0.25, 0.5, 1.0)


def _fresh_id_offset(spark, sf_dir) -> int:
    """Smallest multiple of 100 strictly above the table's max
    vec_id: appended ids can never collide with corpus ids
    (the sf1 rehearsal table spans TEN id blocks at offsets
    0, 1e9, ..., 9e9 — a fixed 1e9 offset collided with real rows
    and silently corrupted the first run of this experiment), and
    offset % 100 == 0 preserves KNN_QUERY_PRED (vec_id % 100 = 0)
    under translation."""
    from mapreduceapp_spark.sources import load_table

    max_id = (
        load_table(spark, sf_dir, "embeddings")
        .agg(F.max("vec_id").alias("m"))
        .collect()[0]["m"]
    )
    return ((max_id // 100) + 1) * 100


def _batch(spark, sf_dir, ratio: float, drift: bool, id_offset: int):
    """A ratio-sized appended batch on the fixture lineage under
    fresh ids; drifted = translated by DELTA per dimension. The
    ratio slice is hash-uniform over the (arbitrary) id space, not
    a prefix — prefix slicing assumes contiguous ids, which the
    rehearsal table does not have."""
    from mapreduceapp_spark.functions.vectors import sq_norm_sql
    from mapreduceapp_spark.operators.similarity import (
        ANISO_HALF,
        ANISO_SCALE,
        _aniso_from,
        _opq_permute,
    )
    from mapreduceapp_spark.sources import load_table

    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.pmod(F.xxhash64("vec_id"), F.lit(1000)) < int(ratio * 1000))
        .select((F.col("vec_id") + id_offset).alias("vec_id"), "embedding")
    )
    a = _aniso_from(e)
    if drift:
        delta = (ANISO_HALF * ANISO_SCALE) // 2
        a = a.selectExpr(
            "vec_id", f"transform(qv, x -> x + {delta}) AS qv"
        ).selectExpr("*", f"{sq_norm_sql('qv')} AS sq")
    b = _opq_permute(a)
    return b, b.count()


def _mean_appended_recall(exact, approx, id_offset: int):
    from mapreduceapp_spark.operators.similarity import _recall_vs

    row = (
        _recall_vs(
            exact.filter(F.col("query_id") >= id_offset), approx
        )
        .agg(
            F.round(F.avg("recall_at_k"), 4).alias("r"),
            F.count(F.lit(1)).alias("q"),
        )
        .collect()[0]
    )
    return float(row["r"]), int(row["q"])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    import tempfile

    from mapreduceapp_spark.operators.ann_index import (
        append_ann_index,
        probe_ann_index,
        write_ann_index,
    )
    from mapreduceapp_spark.operators.similarity import (
        KNN_QUERY_PRED,
        L2,
        _aniso,
        _opq_permute,
        knn_topk,
    )
    from mapreduceapp_spark.session import get_spark
    from mapreduceapp_spark.sources.parquet import table_row_count

    spark = get_spark(
        app_name="ann-append-drift",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    n = table_row_count(spark, sf_dir, "embeddings")
    corpus = _opq_permute(_aniso(spark, sf_dir))
    work = tempfile.mkdtemp(prefix="ann_drift_")
    out: dict = {"sf_dir": sf_dir, "n_corpus": n, "ratios": {}}
    try:
        id_offset = _fresh_id_offset(spark, sf_dir)
        out["id_offset"] = id_offset
        base = os.path.join(work, "base")
        t0 = time.perf_counter()
        write_ann_index(spark, corpus, n, base)
        out["build_wall_sec"] = round(time.perf_counter() - t0, 2)
        for ratio in RATIOS:
            for drift in (False, True):
                batch, n_b = _batch(spark, sf_dir, ratio, drift, id_offset)
                key = f"{ratio}:{'drift' if drift else 'control'}"
                union = corpus.unionByName(batch)
                exact = knn_topk(
                    union, L2, f"drift_exact_{key}", n_rows=n + n_b
                )
                queries = batch.filter(KNN_QUERY_PRED)
                # appended path: copy base, append the batch
                appended = os.path.join(work, f"app_{ratio}_{drift}")
                shutil.copytree(base, appended)
                t0 = time.perf_counter()
                append_ann_index(spark, appended, batch, n_new=n_b)
                t_append = round(time.perf_counter() - t0, 2)
                r_app, n_q = _mean_appended_recall(
                    exact, probe_ann_index(spark, appended, queries), id_offset
                )
                from mapreduceapp_spark.operators.ann_index import (
                    ann_index_drift_ratio,
                )

                trig = ann_index_drift_ratio(appended)
                # rebuild path: full retrain over the union
                rebuilt = os.path.join(work, f"reb_{ratio}_{drift}")
                t0 = time.perf_counter()
                write_ann_index(spark, union, n + n_b, rebuilt)
                t_rebuild = round(time.perf_counter() - t0, 2)
                r_reb, _ = _mean_appended_recall(
                    exact, probe_ann_index(spark, rebuilt, queries), id_offset
                )
                out["ratios"][key] = {
                    "drift_ratio": trig,
                    "n_batch": n_b,
                    "n_queries": n_q,
                    "appended_recall": r_app,
                    "rebuilt_recall": r_reb,
                    "gap": round(r_reb - r_app, 4),
                    "append_wall_sec": t_append,
                    "rebuild_wall_sec": t_rebuild,
                }
                print(key, out["ratios"][key], file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from bench import next_round

    path = os.path.join(here, f"ann_append_drift_r{next_round():02d}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
