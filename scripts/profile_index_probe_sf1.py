"""Stage breakdown of q_dedup_index_probe at sf1 (VERDICT r13 ask #6).

The sf1 rehearsal's top query (13.2 s in sf1_rehearsal_r13 vs an
on-floor sf0.1 wall) — is the 10× cost candidate-volume-proportional
or a fixed per-probe overhead? This script times each stage of the
query's chain in a fresh session against the rehearsal data:

1. ``minhash_signatures`` stage write — the shingle+minhash
   derivation over ALL docs (corpus+batch). Corpus-proportional and
   ONE-TIME per process (staged slot); every probe after pays zero.
2. band-index build (``index_slot`` first use) — one-time per
   corpus compaction; reused across processes via the staging root.
3. the steady-state probe (everything staged/built) — the
   per-probe marginal cost a nightly ingest actually pays, plus the
   candidate count it is supposed to be proportional to.

Prints one JSON line; intended to be run calm (no concurrent load).
Usage: python scripts/profile_index_probe_sf1.py
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1_DIR = "/tmp/sf1_rehearsal_data"


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    from mapreduceapp_spark.operators.dedup import (
        _minhash_band_entries,
        batch_split,
        minhash_signatures,
    )
    from mapreduceapp_spark.operators.dedup_index import (
        probe_band_index,
        write_band_index,
    )
    from mapreduceapp_spark.operators.index_layout import (
        bucket_of,
        index_slot,
        read_meta,
    )
    from mapreduceapp_spark.session import get_spark

    spark = get_spark(
        app_name="mapreduceapp-spark-index-probe-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"sf": "10x sf0.1 synthetic", "cpus": cpus}

    t0 = time.perf_counter()
    sh = minhash_signatures(spark, SF1_DIR)
    sh.write.format("noop").mode("overwrite").save()
    out["stage_minhash_signatures_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    idx_path = index_slot(
        spark, "band_index", SF1_DIR, "documents", write_band_index
    )
    out["index_build_sec"] = round(time.perf_counter() - t0, 2)
    out["index_prebuilt"] = out["index_build_sec"] < 1.0

    batch = batch_split(sh, new=True)
    # steady-state probe: signatures staged, index built. Two reps —
    # the first may still pay plan/JIT warm-in; both recorded.
    probe_walls = []
    for _ in range(2):
        t0 = time.perf_counter()
        probe_band_index(spark, idx_path, batch).write.format("noop").mode(
            "overwrite"
        ).save()
        probe_walls.append(round(time.perf_counter() - t0, 2))
    out["probe_walls_sec"] = probe_walls

    # proportionality evidence: candidate volume and emitted pairs
    meta = read_meta(idx_path)
    probe_bands = _minhash_band_entries(batch).withColumn(
        "bucket", bucket_of("band_key", meta["n_buckets"])
    )
    idx_bands = (
        spark.read.parquet(os.path.join(idx_path, "bands"))
        .select("doc_id", "band_key")
    )
    out["n_batch_docs"] = batch.select("doc_id").distinct().count()
    out["n_batch_band_rows"] = probe_bands.count()
    out["n_candidates"] = (
        probe_bands.join(idx_bands, "band_key").count()
    )
    out["n_pairs_emitted"] = probe_band_index(
        spark, idx_path, batch
    ).count()
    out["index_meta"] = {k: meta[k] for k in ("n_buckets", "n_sig_files")}

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
