"""Streaming ingest dedup: live documents probed against the static
corpus signature index.

This is the streaming twin of ``q_incremental_dedup``
(operators/dedup.py) — the shape a production ingest pipeline runs
continuously instead of nightly: documents arrive on a stream, each
micro-batch computes MinHash signatures with the SAME hash family,
shingle drop-set, and band keys the corpus index was built with
(``minhash_signatures_for`` and dedup.py's MinHash chain — band
expansion, bucket cap, prefilter, verify — are shared code, not
re-implementations), probes the index's band buckets, and emits
exact-verified (corpus_doc, new_doc) near-dup pairs. tests/
test_streaming.py asserts the drained stream equals the batch twin's
output row-for-row.

Reference grounding: the reference has no streaming surface
(``MapReduceFramework.cpp`` runs one finite job); this extends the
engine's ingest-dedup operator to the unbounded case the same way the
windowed aggregations extend its batch aggregations.

Scale posture (100 TB corpus, streaming ingest):
- Every join here is STREAM-STATIC: the corpus band index and the
  signature/shingle lookup sides are batch DataFrames re-planned per
  micro-batch, so there is no join state to watermark — the only
  stateful operator is the final ``dropDuplicates``, whose state is
  one row per EMITTED pair (bounded by true-duplicate volume, not by
  traffic; a pair can recur only via multi-band collisions).
- The probe's cost per micro-batch is |batch| × bucket occupancy of
  the buckets the batch's own bands hit (measured constant in corpus
  size on the rehearsal corpus — NOTES_r08.md); the corpus is never
  re-paired against itself.
- In production the staged signature table is a persisted,
  band-partitioned index; micro-batches prune to the band buckets
  they touch. Re-staging happens only on corpus compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceapp_spark.operators.dedup import (
    CROSS_PAIR,
    LSH_BUCKET_CAP,
    _capped_band_entries,
    _jaccard_verify,
    _minhash_band_entries,
    _shingle_dropset_broadcast,
    _side,
    _sig_prefilter,
    batch_split,
    minhash_signatures,
    minhash_signatures_for,
)
from mapreduceapp_spark.sources import load_table


def documents_stream(
    spark: SparkSession, sf_dir: str, stream_dir: str
) -> DataFrame:
    """documents as a file-source stream (schema from the batch
    table, same convention as events_stream). Callers stage document
    parquet files into ``stream_dir``; in production this is the
    crawl-ingest topic."""
    batch = load_table(spark, sf_dir, "documents")
    return (
        spark.readStream.schema(batch.schema).format("parquet").load(stream_dir)
    )


def incremental_dedup_stream(
    spark: SparkSession, sf_dir: str, docs_stream: DataFrame
) -> DataFrame:
    """Probe a document stream against ``sf_dir``'s corpus signature
    index; emit exact-verified near-dup pairs (corpus_doc, new_doc,
    inter, uni, jac) — the same schema and values as the batch twin
    when the stream carries the batch split's documents.

    Static sides (corpus index) come from the SAME staged slot the
    batch queries share; the corpus here is the batch twin's split
    (doc_id % 10 < 8) so batch ≡ stream is directly assertable. The
    stream side carries its shingle set and signature THROUGH the
    band join (×16 fan-out of array columns — fine for a probe
    stream; the batch plan instead joins back to the staged table,
    which a stream cannot).
    """
    corpus_sh = batch_split(minhash_signatures(spark, sf_dir), new=False)
    # Deliberately NOT staged to its own slot: A/B-measured in one
    # process (4-batch drain at sf0.1, alternating builds), staging
    # the capped band index made the drain ~2x SLOWER (12.5-14.5 s
    # vs 6.7-8.6 s, twice each) — per micro-batch, the staged scan's
    # small size estimate makes Spark rebuild a broadcast of it every
    # batch, which costs more than re-running the cap window over the
    # already-staged signature scan. The persisted band-partitioned
    # index remains the CORPUS-scale design (module docstring), where
    # re-deriving corpus-wide bands per batch is prohibitive and the
    # index is pruned to touched buckets rather than re-broadcast.
    corpus_bands = _capped_band_entries(
        _minhash_band_entries(corpus_sh), ["band_key"], LSH_BUCKET_CAP
    ).withColumnRenamed("doc_id", "corpus_doc")
    probe_bands = _minhash_band_entries(
        minhash_signatures_for(docs_stream, _shingle_dropset_broadcast(spark, sf_dir)),
        F.col("doc_id").alias("new_doc"),
        F.col("sh").alias("sh_n"),
        F.col("sig").alias("sig_n"),
    )
    cand = probe_bands.join(corpus_bands, "band_key").join(
        _side(corpus_sh, CROSS_PAIR, True, "sig", "sh"), "corpus_doc"
    )
    # multi-band collisions emit a pair once per colliding band;
    # dedup AFTER the exact verify (survivor set = true pairs only),
    # so dropDuplicates state is one row per emitted pair — bounded
    # by duplicate volume, not traffic.
    return _jaccard_verify(_sig_prefilter(cand, CROSS_PAIR), CROSS_PAIR).dropDuplicates(
        ["corpus_doc", "new_doc"]
    )


def indexed_ingest_dedup(
    spark: SparkSession,
    sf_dir: str,
    docs_stream: DataFrame,
    index_path: str,
    collector,
    checkpoint: str,
    admit: bool = False,
):
    """The corpus-scale ingest-dedup runner (the rung above
    :func:`incremental_dedup_stream`, NOTES_r08): each micro-batch is
    signed with the shared hash family and probed against the
    PERSISTED bucket-partitioned band index
    (operators/dedup_index.py) via ``foreachBatch``, instead of
    re-planning the corpus signature derivation per batch.

    Why foreachBatch and not a stream-static join: the probe needs
    the batch's touched-bucket set as PLAN-TIME literals to get
    directory pruning (a join predicate prunes rows, not files), and
    that set only exists once the micro-batch is materialized —
    exactly the contract foreachBatch provides. The per-batch floor
    drops from "re-derive corpus bands + cap window" to "list and
    scan the touched index directories": constant in corpus size for
    a fixed batch (the same argument as the batch probe, now with
    the bytes-read side enforced by layout instead of lineage).

    ``collector(pairs_df, epoch_id)`` receives each batch's verified
    pairs (same schema as the batch twin); cross-batch global dedup
    is the caller's sink concern (a doc appears in exactly one
    micro-batch, so pair keys never recur across batches — the
    in-batch dropDuplicates in the probe already collapsed
    multi-band collisions).

    ``admit=True`` closes the new-vs-new blind window (VERDICT r15
    ask #1): after the epoch's pairs are collected, the batch's
    signature rows are APPENDED into the persisted index
    (:func:`~mapreduceapp_spark.operators.dedup_index.
    append_band_index` — frozen hash family, thin rows, incremental
    sidecar), so near-duplicates arriving in different micro-batches
    find each other at probe time instead of waiting for the next
    corpus compaction. Probe THEN append, and the probe's pruned
    scans pin their file lists at plan-build time (driver-side
    sidecar/directory listings), so an epoch never pairs a document
    against its own batch. ``collector`` must materialize the pairs
    within the call under ``admit`` (the batch signature cache is
    epoch-scoped, and the append must not race the probe's reads).
    Epoch REPLAY after a crash re-appends the batch (at-least-once
    admission): duplicate index rows only duplicate candidate rows —
    the probe's pair-dedup collapses them — but the replayed probe
    now sees its own batch in the index, so under ``admit`` the
    probe drops identity pairs (corpus_doc == new_doc); exactly-once
    admission is the TxLog rung, as for the curated-ingest sink.

    Returns the started ``StreamingQuery`` (availableNow trigger).
    """
    drop_bc = _shingle_dropset_broadcast(spark, sf_dir)

    def _probe(bdf: DataFrame, epoch_id: int) -> None:
        from mapreduceapp_spark.operators.dedup_index import (
            append_band_index,
            probe_band_index,
        )

        sh = minhash_signatures_for(bdf, drop_bc)
        if not admit:
            collector(probe_band_index(spark, index_path, sh), epoch_id)
            return
        # probe + append both consume the batch signatures: persist
        # for the epoch, release in finally (the winnow_screen /
        # ann_search_stream per-epoch staging convention)
        sh = sh.persist()
        try:
            pairs = probe_band_index(spark, index_path, sh).filter(
                F.col("corpus_doc") != F.col("new_doc")
            )
            collector(pairs, epoch_id)
            append_band_index(spark, index_path, sh)
        finally:
            sh.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def winnow_screen_stream(
    spark: SparkSession,
    sf_dir: str,
    docs_stream: DataFrame,
    index_path: str,
    collector,
    checkpoint: str,
):
    """Substring-level ingest screen — the winnowing twin of
    :func:`indexed_ingest_dedup`, giving the streaming path the
    verbatim-run detector its MinHash screen cannot provide (MinHash
    sees token-shingle Jaccard; winnowing guarantees any shared run
    ≥ WINNOW_K + WINNOW_W − 1 chars is caught).

    Each micro-batch derives its OWN winnowing fingerprints — a
    map-only array-HOF pass over batch bytes only — and probes the
    PERSISTED corpus fingerprint index
    (operators/winnow_index.py) with partition pruning: the batch's
    fingerprint buckets collect as plan-time literals, so corpus
    index bytes read scale with the batch, never the corpus (the
    indexed_ingest_dedup argument, at the substring level). The
    corpus side applies the stored df cap (boilerplate fingerprints
    carry no dedup signal and fan out quadratically); emitted rows
    are (corpus_doc, new_doc, shared_fps) pairs with shared_fps ≥
    WINNOW_MIN_SHARED — q_winnowing's threshold semantics across the
    batch/corpus split.

    ``collector(pairs_df, epoch_id)`` receives each batch's pairs;
    a doc appears in exactly one micro-batch, so pair keys never
    recur across batches. Returns the started ``StreamingQuery``
    (availableNow trigger)."""
    from mapreduceapp_spark.operators.text import (
        WINNOW_DF_CAP,
        WINNOW_MIN_SHARED,
        winnow_fingerprints,
    )
    from mapreduceapp_spark.operators.winnow_index import (
        probe_winnow_index,
    )

    def _screen(bdf: DataFrame, epoch_id: int) -> None:
        # NOT staged: a stage() slot per micro-batch accumulates on
        # the staging disk for the stream's whole life (each batch's
        # lineage hashes differently — the unbounded-growth class the
        # engine avoids everywhere else). Instead the batch
        # fingerprints are persist()ed FOR THE EPOCH and unpersisted
        # in the same call frame (VERDICT r11 ask #6: the r11 form
        # derived them twice — once for the probe's bucket collect,
        # once in the join). A per-epoch persist has neither lifecycle
        # problem stage() exists to solve: it is released before the
        # next epoch (no accumulation), and foreachBatch runs the
        # whole consume inside this frame (no CacheManager
        # cross-query plan rewrites to flake — the cache dies with
        # the frame). The unpersist is in a finally: a collector
        # that raises must not leak the epoch's cache into the
        # stream's remaining life.
        bfps = winnow_fingerprints(bdf).select(
            F.col("doc_id").alias("new_doc"), "fp"
        )
        bfps = bfps.persist()
        try:
            corpus = (
                probe_winnow_index(spark, index_path, bfps)
                .filter(F.col("df") <= WINNOW_DF_CAP)
                .select(F.col("doc_id").alias("corpus_doc"), "fp")
            )
            pairs = (
                corpus.join(bfps, "fp")
                .filter(F.col("corpus_doc") != F.col("new_doc"))
                .groupBy("corpus_doc", "new_doc")
                .agg(F.count(F.lit(1)).alias("shared_fps"))
                .filter(F.col("shared_fps") >= WINNOW_MIN_SHARED)
            )
            collector(pairs, epoch_id)
        finally:
            bfps.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ann_search_stream(
    spark: SparkSession,
    vec_stream: DataFrame,
    index_path: str,
    collector,
    checkpoint: str,
    lineage=None,
):
    """Streaming ANN top-k — the similarity twin of
    :func:`indexed_ingest_dedup`: a query-vector stream searched per
    micro-batch against the PERSISTED cell-partitioned ANN index
    (operators/ann_index.py) via ``foreachBatch``, the production
    query-serving shape (the corpus side is pruned reads; only the
    tiny query batch computes fresh each epoch).

    Why foreachBatch (same argument as the other two index runners):
    the probe needs the batch's probed-cell set as PLAN-TIME literals
    for directory/file pruning, which only exists once the micro-batch
    is materialized. Per-epoch intermediates (probe table, ADC
    distance table) use a persist-for-the-epoch stager released in a
    ``finally`` instead of ``stage()`` — a staged slot per micro-batch
    lineage would accumulate on the staging disk for the stream's
    whole life (the winnow_screen_stream lesson, VERDICT r11 ask #6
    class).

    ``lineage`` maps a raw (vec_id, embedding) batch onto the
    (vec_id, qv, sq) lineage the index was built from; the default is
    the registered index's OPQ-permuted aniso fixture transform.
    ``collector(topk_df, epoch_id)`` receives each batch's
    (query_id, neighbor_id, rnk, adc) rows and must materialize them
    within the call (the per-epoch caches are released right after);
    a query appears in exactly one micro-batch and per-query top-k
    depends only on that query, so the union over epochs equals the
    batch probe over the same query set row-for-row (pinned by
    test_ann_search_stream_equals_batch_probe). Returns the started
    ``StreamingQuery`` (availableNow trigger)."""
    if lineage is None:
        from mapreduceapp_spark.operators.similarity import (
            _aniso_from,
            _opq_permute,
        )

        def lineage(bdf: DataFrame) -> DataFrame:
            return _opq_permute(_aniso_from(bdf))

    def _search(bdf: DataFrame, epoch_id: int) -> None:
        from mapreduceapp_spark.operators.ann_index import probe_ann_index

        cached: list[DataFrame] = []

        def epoch_stage(df: DataFrame, name: str) -> DataFrame:
            p = df.persist()
            cached.append(p)
            return p

        try:
            collector(
                probe_ann_index(
                    spark,
                    index_path,
                    lineage(bdf),
                    # foreachBatch already materialized the batch, so
                    # its count is one cheap job here — without it the
                    # probe pays a distinct-count over the persisted
                    # probe table EVERY epoch just to size broadcast
                    # gates (ADVICE r15 #5: the per-epoch fixed-cost
                    # regime this module warns about)
                    n_queries_bound=bdf.count() or None,
                    _stage=epoch_stage,
                ),
                epoch_id,
            )
        finally:
            for p in cached:
                p.unpersist()

    return (
        vec_stream.writeStream.foreachBatch(_search)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
