"""sf1 build/probe split for the persisted ANN index (r15).

The number the persisted format exists for: the BUILD (assign GEMM +
residual codebook + encode + partitioned write — the corpus-compaction
event) paid once, against the steady-state PROBE wall (query-side GEMM
+ pruned reads + ADC), read beside the in-plan `adc_search`
wall that re-derives the corpus side every process.

Runs against the sf1 rehearsal data (build it first via
scripts/sf1_rehearsal.py); writes ann_index_split_r{N}.json at the
repo root. Single-core probes bracket every timed section (the r6
variance rule).

Usage: python scripts/ann_index_split.py [warm_reps]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))

from bench import _cpu_probe, next_round  # noqa: E402

SF1 = "/tmp/sf1_rehearsal_data"


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    if not os.path.isdir(SF1):
        raise SystemExit("build sf1 data first: python scripts/sf1_rehearsal.py")

    from mapreduceapp_spark.operators.ann_index import (
        probe_ann_index,
        write_ann_index,
    )
    from mapreduceapp_spark.operators.similarity import (
        ADC_IVFADC,
        KNN_QUERY_PRED,
        _aniso,
        _opq_permute,
        adc_search,
    )
    from mapreduceapp_spark.session import get_spark
    from mapreduceapp_spark.sources.parquet import table_row_count

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        app_name="ann-index-split",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(cpus).toPandas()  # worker/Arrow warm (untimed)

    e_p = _opq_permute(_aniso(spark, SF1))
    n = table_row_count(spark, SF1, "embeddings")
    queries = e_p.filter(KNN_QUERY_PRED)
    nq_bound = n // 100 + 1
    out: dict = {"n_rows": n, "warm_reps": reps, "probes": []}

    def probe() -> None:
        out["probes"].append(round(_cpu_probe(), 4))

    tmp = tempfile.mkdtemp(prefix="ann_split_")
    path = os.path.join(tmp, "ann_index_sf1")
    try:
        probe()
        t0 = time.perf_counter()
        write_ann_index(spark, e_p, n, path)
        out["build_sec"] = round(time.perf_counter() - t0, 4)
        probe()
        t0 = time.perf_counter()
        first = probe_ann_index(
            spark, path, queries, n_queries_bound=nq_bound
        )
        first_rows = sorted(map(tuple, first.collect()))
        out["probe_cold_sec"] = round(time.perf_counter() - t0, 4)
        out["n_result_rows"] = len(first_rows)
        probe()
        warm = []
        for _ in range(reps):
            t0 = time.perf_counter()
            probe_ann_index(
                spark, path, queries, n_queries_bound=nq_bound
            ).count()
            warm.append(round(time.perf_counter() - t0, 4))
        out["probe_warm_sec"] = warm
        probe()
        # the in-plan twin, same lineage: first call = its own cold
        # (kernel warm-in shared with the build above), then warm reps
        def inplan():
            return adc_search(e_p, n, ADC_IVFADC)

        t0 = time.perf_counter()
        inplan_rows = sorted(map(tuple, inplan().collect()))
        out["inplan_cold_sec"] = round(time.perf_counter() - t0, 4)
        probe()
        warm = []
        for _ in range(reps):
            t0 = time.perf_counter()
            inplan().count()
            warm.append(round(time.perf_counter() - t0, 4))
        out["inplan_warm_sec"] = warm
        probe()
        out["rows_equal"] = first_rows == inplan_rows and len(first_rows) > 0
        meta = json.load(open(os.path.join(path, "_meta.json")))
        out["index_meta"] = meta
        # on-disk footprint of the persisted asset
        total = 0
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        out["index_bytes"] = total
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out["recorded_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    with open(
        os.path.join(
            os.path.dirname(_HERE), f"ann_index_split_r{next_round():02d}.json"
        ),
        "w",
    ) as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
