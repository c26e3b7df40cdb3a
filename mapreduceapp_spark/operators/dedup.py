"""Deduplication operators over ``documents`` (SURVEY.md §2.C — C1/C2).

The reference's model covers exact dedup directly (K2 = whole row,
reduce emits once — the B4 distinct construction); near-dup detection
is a north-star addition for the LLM-data-pipeline surface.

Detection operators, smallest to largest hammer:
- ``q_exact_dedup``     — content-hash groupBy (exact duplicates).
- ``q_ngram_jaccard``   — exact shingle-Jaccard pairs via an
                          inverted-index self-join (no cross join).
- ``q_containment``     — asymmetric shingle containment (subset
                          duplication symmetric Jaccard misses).
- ``q_containment_prefix`` — the same pairs via ppjoin-style prefix
                          filtering (exact; 65× fewer candidates).
- ``q_minhash_neardup`` — MinHash signatures + banded LSH candidate
                          generation, then exact-Jaccard verification.
- ``q_simhash_neardup`` — 60-bit SimHash + pigeonhole band join for
                          hamming-distance ≤ 3 pairs.

Consumers over the shared staged pair slot: ``q_dedup_clusters``
(connected components), ``q_dedup_survivors`` (kept corpus),
``q_dup_degree`` (degree distribution), ``q_dup_rate_by_source``
(mixture diagnostic).

Scale posture (100 TB):
- exact dedup shuffles (hash, doc) — one shuffle, key space = distinct
  contents; hash keys are uniform, no skew.
- the inverted-index Jaccard join's enemy is high-document-frequency
  shingles (a stopword shingle pairs everything with everything). The
  LSH and SimHash paths exist precisely because of that: their shuffle
  keys are (band, band-hash) / (band, band-bits) whose fan-out per key
  is bounded by design. At bench scale the corpus is bounded, so the
  exact join is the oracle-checkable ground truth.
- three further defenses, all measured on the adversarially dense
  synthetic corpus (31-token vocabulary — worse than web text):
  the per-bucket cap (:data:`LSH_BUCKET_CAP`) keeps SimHash's kept
  candidate pairs ~LINEAR in N across 1x/10x/20x scale-ups (281k →
  3.68M → 7.46M vs 281k → 351M → 696M ≈ N² uncapped); the shingle
  document-frequency cap (:data:`SHINGLE_DF_CAP`, round 7) removes
  stopword shingles from the MinHash SIGNATURES so unrelated docs
  stop colliding at all (kept-pair evidence in NOTES_r07.md); and
  candidate deduplication is deferred until after each consumer's
  cheapest per-pair filter, so the full candidate stream never pays
  a distinct shuffle (NOTES_r06.md has the numbers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceapp_spark.functions.text import oracle_tokens, tokens_sql
from mapreduceapp_spark.plans.registry import register
from mapreduceapp_spark.plans.staging import slot, stage
from mapreduceapp_spark.sources import spread_table, tables

SHINGLE_K = 5
JACCARD_THRESHOLD = 0.8  # the data's pair distribution is bimodal: ≤0.31 / ≥0.93


def _int_round4(num: str, den: str):
    """``round(num/den, 4)`` as a pure-integer half-up division —
    the presentation-rounding discipline from UNIGRAM_LP_MICRO
    (ADVICE r8): ``round4(p/q) = (2·p·10⁴ + q) div (2·q) / 10000.0``
    for non-negative integer p, q.  Float ``F.round(p/q, 4)`` hits
    the .00005-tie class (e.g. 18001/20000 = 0.90005, whose nearest
    double sits BELOW the decimal tie: Spark's BigDecimal
    shortest-repr HALF_UP yields 0.9001 while DuckDB's C ``round``
    on the binary double yields 0.9000 — a driver hash mismatch on
    identical data).  The integer form is engine-independent; the
    final ``/ 10000.0`` is one exact IEEE division of a ≤5-digit
    integer.  ``num`` is cast to BIGINT first: it may arrive as a
    32-bit ``F.size`` result and ``2·num·10⁴`` overflows int32 past
    num ≈ 107k.  The divisor literal needs the ``D`` (double) suffix:
    a bare ``10000.0`` parses as DECIMAL(6,1) in Spark SQL and the
    division would come back as a scale-7 Decimal column instead of
    the double the oracle emits."""
    return F.expr(
        f"((2 * CAST({num} AS BIGINT) * 10000 + {den}) DIV (2 * {den}))"
        " / 10000.0D"
    )


def _sql_round4(num: str, den: str) -> str:
    """DuckDB twin of :func:`_int_round4` — same integer half-up
    division, rendered for the oracle (`//` is DuckDB's integer
    division; operands promoted to BIGINT the same way)."""
    return (
        f"((2 * ({num})::BIGINT * 10000 + ({den})) // (2 * ({den})))"
        " / 10000.0"
    )

# Shingle document-frequency cap upstream of the MinHash SIGNATURES
# (VERDICT r6 ask #3 — the mitigation the module posture named in
# prose since r5). A shingle present in a large fraction of the corpus
# (the stopword shingle) carries no near-dup signal but dominates
# MinHash minima, which is exactly why this corpus's kept candidates
# still grew ~N^1.55 under the bucket cap: ubiquitous shingles make
# unrelated documents' signatures collide. Signatures are therefore
# computed over each document's shingles with df ≤ SHINGLE_DF_CAP
# (full-set fallback when fewer than SHINGLE_MIN_KEPT survive — a doc
# made mostly of stopword shingles keeps a deterministic,
# recall-conservative signature). Exact
# VERIFICATION still uses the FULL shingle sets, so the query's output
# semantics — exact-Jaccard pairs — and its SQL oracle are unchanged;
# the cap only redirects which pairs become candidates. Sizing follows
# the LSH_BUCKET_CAP discipline: never binds at oracle scales
# (measured max df 402 at sf0.01 / 3,923 at sf0.1 — 4.2x headroom,
# test-asserted), so every hash check stays exact; at the adversarial
# rehearsal scales it drops the cross-corpus stopword shingles and the
# candidate volume with them (evidence in NOTES_r07.md). Like any
# df-based curation step, it costs one dedicated aggregate pass over
# the corpus per process (memoized; the standard price of knowing df).
#
# Round-8 sizing evidence (VERDICT r7 ask #2, settled by measurement
# — NOTES_r08.md has the full tables): a cap sweep at the 20x/40x
# rehearsal scales (2k/4k/8k/12k/16,384/40k-100k) found 16,384 at the
# empirical MINIMUM of kept candidate pairs at BOTH scales — lower
# caps eat discriminating mid-df shingles (unions shrink, background
# Jaccard rises: 12x worse at cap 4k/40x), higher caps readmit
# stopword mass — so a df-quantile-relative cap was tested and
# REJECTED: no cap position beats the fixed one on this corpus. The
# residual superlinear kept-pair growth traced (by per-replica pair
# decomposition) to the REHEARSAL GENERATOR's old suffix salt
# planting per-replica stopword shingles invisible to any global df
# cap, not to cap sizing; with the structure-preserving hash salt
# (scripts/sf1_rehearsal.py) the growth is linear in N at this fixed
# cap.
SHINGLE_DF_CAP = 16_384

# Fallback floor for the df cap (ADVICE r7): a document whose capped
# shingle set falls BELOW this count reverts to its full set. The
# empty-set-only fallback left a near-boundary hole: a doc with, say,
# 2 surviving shingles gets a signature dominated by those two — a
# true near-dup pair whose overlap sits in the dropped stopword mass
# could stop colliding in every band. Falling back keeps such docs on
# the conservative (more-candidates) side; since the output is
# exact-verified, recall is the only thing at stake. Never triggers
# at oracle scales (drop-set empty there — headroom test).
SHINGLE_MIN_KEPT = 8

# MinHash: 64 permutations = 16 bands × 4 rows. For true Jaccard j the
# candidate probability is 1-(1-j^4)^16: ≈1-3e-10 at j=.93 (the data's
# near-dup cluster), ≈14% at j=.31 (top of the background cluster) —
# and false candidates are removed by exact verification, so the final
# output equals the exact-Jaccard result with failure probability
# ~1e-9. That is why this query can carry the same SQL oracle as
# q_ngram_jaccard.
MINHASH_PERMS = 64
LSH_BANDS = 16
LSH_ROWS = MINHASH_PERMS // LSH_BANDS

# 60 bits (not 64): the per-token hash is the first 15 hex chars of
# sha256, which (a) fits signed int64 with no sign gymnastics and
# (b) has an exact DuckDB twin — making the whole SimHash path
# SQL-oracle-checkable. 60 = 4 bands x 15 bits for the pigeonhole.
SIMHASH_BITS = 60
SIMHASH_MAX_HAMMING = 3
SIMHASH_BANDS = SIMHASH_MAX_HAMMING + 1  # pigeonhole: ≥1 band equal

# Per-band-bucket size cap for BOTH LSH candidate generators. An LSH
# band bucket's pair fan-out is g²/2; on uniform data g is tiny by
# construction, but adversarially dense data (the sf1 rehearsal
# measured 39x MinHash / 1250x SimHash candidate growth
# at 10x rows on this 31-token-vocabulary corpus) can concentrate an
# unbounded share of the corpus into one bucket — the stopword-shingle
# failure mode. Buckets larger than the cap are DROPPED from candidate
# generation (the standard production mitigation: a bucket that dense
# carries no discriminating signal, and its members' true near-dups
# still collide in their other, sparser bands), and the skip is
# observable via *_band_stats below. Sized to never bind at the oracle
# scales, so both hash checks stay exact: measured max bucket is 28 at
# sf0.01 and 276 at sf0.1 (MinHash; SimHash 28/238) — 3.7x headroom at
# the bench scale, asserted in tests/test_dedup.py.
LSH_BUCKET_CAP = 1024

def _capped_band_entries(
    entries: DataFrame, keys: list[str], cap: int
) -> DataFrame:
    """Band entries minus every bucket (rows sharing ``keys``) larger
    than ``cap`` — the one bucket cap of both LSH families, the band
    index build and its probe.

    The cap is a window ``count(*) over (partition by keys)`` plus a
    filter, computed on the shuffle the candidate self-join needs
    anyway (same key), so it costs no standalone aggregate. Measured
    alternatives: a count aggregate + anti-join took q_simhash_neardup
    from 1.57 to 3.29 s at sf0.1 (this form: 2.0 s); a collect_list
    fold took 60+ s on the sf1 candidate stage, its in-row pair
    expansion being quadratic in bucket size. An over-cap bucket's
    rows co-locate in one window partition as plain rows (spill-safe
    external sort, never a single giant array); only a bucket of
    ~10^8 rows on one key would make that partition a straggler."""
    w = Window.partitionBy(*keys)
    return (
        entries.withColumn("__g", F.count(F.lit(1)).over(w))
        .filter(F.col("__g") <= cap)
        .drop("__g")
    )


def _band_stats(entries: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """One-row diagnostics for an LSH band-bucket layout: bucket
    count, max size, over-cap bucket count, and the candidate pairs
    kept vs skipped by the cap — the observability half of the
    bucket-cap mitigation (consumed by scripts/sf1_rehearsal.py and
    the planted-dense-bucket tests)."""
    sizes = entries.groupBy(*keys).agg(F.count(F.lit(1)).alias("g"))
    pair_w = F.col("g") * (F.col("g") - 1) / 2
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("g").alias("max_bucket"),
        F.sum(F.when(F.col("g") > cap, 1).otherwise(0)).alias("n_over_cap"),
        F.sum(F.when(F.col("g") <= cap, pair_w).otherwise(0))
        .cast("long")
        .alias("kept_pairs"),
        F.sum(F.when(F.col("g") > cap, pair_w).otherwise(0))
        .cast("long")
        .alias("skipped_pairs"),
    )


def _ensure_checkpoint_dir(spark: SparkSession) -> None:
    """Set a checkpoint directory if the session has none.

    Reliable ``DataFrame.checkpoint()`` needs one. On a cluster the
    operator (the human one) points this at durable shared storage
    (HDFS/object store) via ``sparkContext.setCheckpointDir`` before
    running; this fallback keeps local[*] runs and tests working
    without ceremony by using a process-temp directory.
    """
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        import atexit
        import shutil
        import tempfile

        # cleanCheckpoints defaults to false, so without this every
        # q_dedup_clusters run would leave its ~20 checkpointed RDD
        # dirs on disk for the life of the machine.
        ckpt = tempfile.mkdtemp(prefix="mrapp_ckpt_")
        atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
        sc.setCheckpointDir(ckpt)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct k-char shingles per document, Arrow-batched.

    Measured choice, not a guess: JVM ``substring(t, i, k)`` restarts
    its UTF-8 scan at every call — O(len²) per document (3.4s warm at
    sf0.1); building char arrays and slicing allocates worse (25s).
    Python string slicing over an Arrow batch is O(len) with interned
    small strings: 0.86s for the same output. This is the documented
    exception to "stay JVM-side" — a genuinely slicing-bound kernel.
    Output arrays are sorted so results are run-deterministic.
    """
    import pandas as pd

    d = spread_table(spark, sf_dir, "documents")
    k = SHINGLE_K

    def batches(it):
        for pdf in it:
            texts = pdf["text"].str.lower()
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sh": [
                        sorted({t[i : i + k] for i in range(max(len(t) - k + 1, 1))})
                        for t in texts
                    ],
                }
            )

    return d.select("doc_id", "text").mapInPandas(
        batches, "doc_id bigint, sh array<string>"
    )


# (sf_dir, cap) -> (weakref to session, frozenset, Broadcast). The
# drop-set is part of the staged-signature derivation: computed once
# per process per corpus (like a stage() slot — bench's prewarm covers
# it), never reset between timed runs. Hits require the memoized
# session weakref to still resolve to the SAME session object (the
# _CLUSTERS_MEMO identity convention — an ``id()`` key could alias a
# garbage-collected session's address; a STRONG reference would pin
# every session this memo ever saw for the life of the process,
# ADVICE r7).
_SHINGLE_DROPSET_MEMO: dict[tuple[str, int], tuple] = {}


def high_df_shingles(
    spark: SparkSession, sf_dir: str, cap: int | None = None
) -> frozenset:
    """The over-cap shingle drop-set for a corpus (see
    :data:`SHINGLE_DF_CAP`), memoized per (session, corpus, cap).

    CONTRACT NOTE: this runs an EAGER distributed aggregate +
    driver ``collect()`` — deliberately outside the builders-are-
    pure-plans rule, because the drop-set is derivation STATE the
    signature UDF closes over, not part of any query's result. The
    one builder that calls it (:func:`_doc_shingles_with_minhash`,
    via every MinHash consumer) is therefore on the ``staged``
    exempt list in tests/test_registry.py, same as the stage()-slot
    builders; the cost is one memoized aggregate per (session,
    corpus, cap) — bench's prewarm covers it.

    One distributed aggregate: explode distinct shingles, count docs
    per shingle (map-side partial agg — the key space is the shingle
    vocabulary, tiny next to the posting volume), keep df > cap. The
    result is driver-collected by construction-bounded cardinality:
    Σ df ≤ total shingle occurrences, so at most (total/cap) shingles
    can exceed the cap — the same reason a stopword list fits in
    memory at any corpus size. Empty at every oracle/bench scale
    (max df 3,923 at sf0.1 vs cap 16,384 — headroom test-asserted).
    """
    return _shingle_dropset_entry(spark, sf_dir, cap)[0]


def _shingle_dropset_broadcast(
    spark: SparkSession, sf_dir: str, cap: int | None = None
):
    """The drop-set as a Spark Broadcast (ADVICE r7): the signature
    UDF references ``bc.value`` instead of closure-capturing the
    frozenset, so a large drop-set (low cap on a degenerate corpus)
    ships to each executor ONCE via the broadcast mechanism rather
    than re-serializing inside every task's closure."""
    return _shingle_dropset_entry(spark, sf_dir, cap)[1]


def _shingle_dropset_entry(
    spark: SparkSession, sf_dir: str, cap: int | None
) -> tuple:
    import sys
    import weakref

    if cap is None:  # read at call time so tests can plant a low cap
        cap = SHINGLE_DF_CAP
    key = (sf_dir, cap)
    hit = _SHINGLE_DROPSET_MEMO.get(key)
    if hit is not None and hit[0]() is spark:
        return hit[1], hit[2]
    # Broadcast lifecycle (ADVICE r8): entries about to be superseded
    # (stale session on this key) and entries whose session died hold
    # a Broadcast that nothing will ever unpersist — a slow leak in
    # long-lived processes that rebuild sessions or sweep caps. Sweep
    # every dead entry now (not just this key's); destroy() on a
    # stopped context raises, so each release is best-effort.
    for k in [
        k for k, v in _SHINGLE_DROPSET_MEMO.items() if k == key or v[0]() is None
    ]:
        try:
            _SHINGLE_DROPSET_MEMO[k][2].destroy()
        except Exception:
            pass
        del _SHINGLE_DROPSET_MEMO[k]
    rows = (
        _doc_shingles(spark, sf_dir)
        .select(F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cap)
        .select("s")
        .collect()
    )
    drop = frozenset(r["s"] for r in rows)
    print(
        f"[shingle-df] {sf_dir}: {len(drop)} shingle(s) over df cap {cap}",
        file=sys.stderr,
    )
    bc = spark.sparkContext.broadcast(drop)
    _SHINGLE_DROPSET_MEMO[key] = (weakref.ref(spark), drop, bc)
    return drop, bc


def shingle_df_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row df-distribution diagnostics (vocabulary size, max df,
    over-cap shingle count) — the observability half of the df cap,
    consumed by the rehearsal harness and the headroom test."""
    df = (
        _doc_shingles(spark, sf_dir)
        .select("doc_id", F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.max("df").alias("max_df"),
        F.sum(F.when(F.col("df") > SHINGLE_DF_CAP, 1).otherwise(0)).alias(
            "n_over_cap"
        ),
    )


def minhash_signature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row per-corpus diagnostics of the df cap's bite AT
    SIGNATURE TIME (ADVICE r7): how many documents lost shingles to
    the cap, how many fell back to their full set (capped set below
    :data:`SHINGLE_MIN_KEPT`), and the dropped-shingle volume. The
    rehearsal harness records this next to the band stats so a
    recall-risky regime (many capped docs, many fallbacks) is
    observable instead of inferred."""
    import pandas as pd

    drop_bc = _shingle_dropset_broadcast(spark, sf_dir)
    d = tables(spark, sf_dir).documents
    k = SHINGLE_K
    min_kept = SHINGLE_MIN_KEPT

    def batches(it):
        drop = drop_bc.value
        for pdf in it:
            n_sh, n_dropped, fell_back = [], [], []
            for t in pdf["text"].str.lower():
                sh = {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}
                kept = len(sh) - sum(1 for s in sh if s in drop)
                n_sh.append(len(sh))
                n_dropped.append(len(sh) - kept)
                fell_back.append(int(kept < min_kept and kept < len(sh)))
            yield pd.DataFrame(
                {"n_sh": n_sh, "n_dropped": n_dropped, "fell_back": fell_back}
            )

    per_doc = d.select("text").mapInPandas(
        batches, "n_sh int, n_dropped int, fell_back int"
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_dropped") > 0, 1).otherwise(0)).alias(
            "n_docs_capped"
        ),
        F.sum("fell_back").alias("n_docs_fallback"),
        F.sum("n_dropped").alias("total_dropped"),
        F.max("n_dropped").alias("max_dropped"),
    )


def _doc_shingles_with_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Arrow pass: shingle set + 64-element MinHash signature.

    Signatures don't feed any oracle (candidates are exactly
    verified), so the hash family is chosen for speed: crc32 as the
    base 64-bit-widened shingle hash, then 64 multiply-add universal
    hashes evaluated as one vectorized numpy (64, n_shingles) matrix
    min-reduction. Cost per doc is two numpy ops instead of 64 JVM
    array traversals with per-element string hashing — measured 39s
    → ~2s at sf0.1. Multipliers/offsets come from a fixed-seed
    generator: identical on every executor and every run, so
    signatures are reproducible without any fitted/broadcast state.

    Signatures are computed over the df-capped shingle subset (see
    :data:`SHINGLE_DF_CAP`): stopword shingles are dropped BEFORE the
    min-reduction so they can't dominate the minima, with a full-set
    fallback for documents the cap would leave with fewer than
    :data:`SHINGLE_MIN_KEPT` shingles (ADVICE r7). The ``sh`` column
    stays the FULL set — exact verification and the ground-truth
    queries are untouched.
    """
    drop_bc = _shingle_dropset_broadcast(spark, sf_dir)
    return minhash_signatures_for(spread_table(spark, sf_dir, "documents"), drop_bc)


def minhash_signatures_for(docs: DataFrame, drop_bc) -> DataFrame:
    """The shingle+signature Arrow pass over an arbitrary
    ``(doc_id, text)`` DataFrame — batch or STREAMING (mapInPandas is
    legal on streaming DataFrames, which is what lets the streaming
    ingest-dedup runner reuse the exact signature family the corpus
    index was built with; see streaming/probe.py). ``drop_bc`` is the
    corpus-derived shingle drop-set broadcast: probes must cap their
    vocabulary by the INDEX's decisions, not their own batch's."""
    import numpy as np
    import pandas as pd
    import zlib

    k = SHINGLE_K
    min_kept = SHINGLE_MIN_KEPT
    rng = np.random.RandomState(0x5EED)
    A = (rng.randint(1, 2**62, size=MINHASH_PERMS, dtype=np.uint64) * 2 + 1).astype(
        np.uint64
    )
    B = rng.randint(0, 2**63, size=MINHASH_PERMS, dtype=np.uint64)

    def batches(it):
        drop = drop_bc.value  # broadcast-shipped, not closure-captured
        for pdf in it:
            sh_col, sig_col = [], []
            for t in pdf["text"].str.lower():
                sh = sorted({t[i : i + k] for i in range(max(len(t) - k + 1, 1))})
                kept = [s for s in sh if s not in drop] if drop else sh
                if len(kept) < min_kept and len(kept) < len(sh):
                    # near-empty capped set: revert to the full set
                    # (SHINGLE_MIN_KEPT note — recall-conservative)
                    kept = sh
                h = np.fromiter(
                    (zlib.crc32(s.encode()) for s in kept),
                    dtype=np.uint64,
                    count=len(kept),
                )
                # 64 universal hashes, wraparound mod 2^64; min over
                # shingles per permutation = the MinHash signature
                sig = (A[:, None] * h[None, :] + B[:, None]).min(axis=1)
                sh_col.append(sh)
                sig_col.append(sig.astype(np.int64))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "sh": sh_col, "sig": sig_col}
            )

    return docs.select("doc_id", "text").mapInPandas(
        batches, "doc_id bigint, sh array<string>, sig array<bigint>"
    )


# The MinHash near-dup chain. Four callers compose it: the self-join
# (q_minhash_neardup), the batch-vs-corpus query (q_incremental_dedup),
# the persisted band-index probe (dedup_index.probe_band_index) and the
# streaming probe (streaming/probe.py). Each keeps its own exchanges,
# broadcasts and regime gate; the steps below are shared:
# signature slot → band expansion → bucket cap → band join →
# signature-agreement prefilter → distinct → exact-Jaccard verify.


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's staged (doc_id, sh, sig) table — the one
    ``minhash_signatures`` slot. One Arrow pass feeds the banding, both
    prefilter sides and both verification sides of every consumer, so
    the corpus is scanned and signed once per process; on a hit the
    producer plan is not even constructed (:func:`slot`)."""
    return slot(
        spark,
        "minhash_signatures",
        sf_dir,
        lambda: _doc_shingles_with_minhash(spark, sf_dir),
    )


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_minhash_neardup's (doc_a, doc_b) pairs as the one staged
    ``minhash_pairs`` slot: clusters, survivors, degree, per-source
    rate and the curation pipeline read the same bytes, so pair
    detection runs once per process."""
    return slot(
        spark,
        "minhash_pairs",
        sf_dir,
        lambda: q_minhash_neardup(spark, sf_dir).select("doc_a", "doc_b"),
    )


# Incremental split: docs with doc_id % 10 >= 8 play the "freshly
# crawled batch" (~20% of the corpus); the rest are the already-
# ingested corpus. Deterministic in both engines — pure integer
# arithmetic on the key.
INCR_BATCH_MOD = 10
INCR_BATCH_RESIDUE = 8


def batch_split(sh: DataFrame, new: bool) -> DataFrame:
    """The new-batch side (``new``) or the corpus side of the
    incremental split. The constants are read at call time."""
    pred = f"doc_id % {INCR_BATCH_MOD} >= {INCR_BATCH_RESIDUE}"
    return sh.filter(pred if new else f"NOT ({pred})")


def band_key_array():
    """The 16-element band-key column over a ``sig`` column: the LSH
    band family as one expression, so every caller's band keys are
    bit-identical to the index's. One F.expr string: 16 xxhash64(slice)
    Column constructions cost ~100 py4j round-trips per call; the
    string parses in one."""
    return F.expr(
        "array("
        + ", ".join(
            f"xxhash64({b}, slice(sig, {b * LSH_ROWS + 1}, {LSH_ROWS}))"
            for b in range(LSH_BANDS)
        )
        + ")"
    )


def _minhash_band_entries(sh: DataFrame, *cols) -> DataFrame:
    """(doc_id, band_key) rows — 16 per doc — from a signature table.
    The band key folds the band index into the hash so one long column
    keys the shuffle. ``cols`` replace ``doc_id`` as the carried
    columns: the streaming probe carries its renamed key, shingles and
    signature through the band join, since a stream cannot join back
    to a staged table."""
    return sh.select(
        *(cols or ("doc_id",)), F.explode(band_key_array()).alias("band_key")
    )


# The chain's two pair shapes, as (left key, right key, left suffix,
# right suffix): the self-join emits doc_a < doc_b; the batch-vs-corpus
# probes pair an ingested corpus doc with a new one.
SELF_PAIR = ("doc_a", "doc_b", "a", "b")
CROSS_PAIR = ("corpus_doc", "new_doc", "c", "n")


def _side(sh: DataFrame, pair: tuple, left: bool, *cols: str) -> DataFrame:
    """Columns ``cols`` of a signature table keyed and suffixed as one
    side of ``pair`` (left of SELF_PAIR: doc_id → doc_a, sig → sig_a)."""
    key, sfx = (pair[0], pair[2]) if left else (pair[1], pair[3])
    return sh.selectExpr(f"doc_id AS {key}", *(f"{c} AS {c}_{sfx}" for c in cols))


def _join_sides(pairs: DataFrame, sh: DataFrame, pair: tuple, col: str) -> DataFrame:
    """Both sides' ``col`` joined onto key pairs, left key first."""
    return pairs.join(_side(sh, pair, True, col), pair[0]).join(
        _side(sh, pair, False, col), pair[1]
    )


def _sig_prefilter(cand: DataFrame, pair: tuple) -> DataFrame:
    """Candidate rows whose two signatures agree on at least
    MINHASH_PERMS // 2 positions. The fraction of agreeing positions
    estimates Jaccard; a 64-int compare per pair instead of a
    ~|shingles|-string array_intersect. Cutting at est ≥ 0.5 keeps
    every true ≥ 0.8 pair (binomial tail P[agree < 32 | j = 0.8] ≈
    3e-7) and drops effectively all background collisions: a single
    4-row band collides for ~0.4% of background (j ≈ 0.25) pairs.
    Measured on q_minhash_neardup at sf0.1: 21 s → ~7 s."""
    a, b = pair[2], pair[3]
    return cand.withColumn(
        "sig_agree",
        F.expr(
            f"aggregate(zip_with(sig_{a}, sig_{b},"
            " (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
            " 0, (acc, x) -> acc + x)"
        ),
    ).filter(F.col("sig_agree") >= MINHASH_PERMS // 2)


def _jaccard_verify(pairs: DataFrame, pair: tuple) -> DataFrame:
    """Exact Jaccard over the full shingle sets ``sh_<suffix>`` of each
    pair: (left key, right key, inter, uni, jac) rows with
    inter / uni ≥ JACCARD_THRESHOLD. Integer math up to the one double
    division of the cut; ``jac`` is :func:`_int_round4`."""
    ka, kb, a, b = pair
    inter = f"size(array_intersect(sh_{a}, sh_{b})) AS inter"
    uni = f"(size(sh_{a}) + size(sh_{b}) - inter) AS uni"
    return (
        pairs.selectExpr(ka, kb, inter, f"sh_{a}", f"sh_{b}")
        .selectExpr(ka, kb, "inter", uni)
        .filter(f"CAST(inter AS DOUBLE) / uni >= {JACCARD_THRESHOLD}")
        .select(ka, kb, "inter", "uni", _int_round4("inter", "uni").alias("jac"))
    )


@register(
    "q_exact_dedup",
    oracle="""
        SELECT sha256(text) AS content_hash,
               min(doc_id) AS keeper_doc_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY content_hash
    """,
    doc="Exact dedup: sha256 content hash, keep lowest doc_id per group (C1).",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content hash.

    This is the B4 distinct construction (K2 = content) with a
    64-hex-char key instead of the full text, so the shuffle carries
    32 bytes + ids per row rather than document bodies — the standard
    100 TB trick. One shuffle, uniform keys, map-side partial agg.
    """
    d = tables(spark, sf_dir).documents
    return (
        d.select(F.sha2(F.col("text").cast("binary"), 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# Shared oracle CTE block computing the exact Jaccard >= threshold
# pairs RELATIONALLY — unnest shingles, equi-self-join on shingle,
# group-count co-occurrences — the same shape as the Spark plan in
# :func:`_exact_jaccard_pairs`, instead of the O(N^2) cross join with
# ``list_intersect`` per pair. Measured at sf0.01: 0.6 s vs 23.4 s,
# identical output. MATERIALIZED matters twice over: the CTEs are
# referenced multiple times, and inside ``WITH RECURSIVE`` (the
# clusters oracle) a non-materialized CTE is re-evaluated every
# iteration of the recursion (measured: 71 s -> 0.7 s).
ORACLE_SHINGLE_CTES = f"""
        shl AS MATERIALIZED (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, greatest(length(lower(text)) - {SHINGLE_K - 1}, 1)),
                       i -> lower(text)[i:i+{SHINGLE_K - 1}])) AS s
            FROM documents
        ),
        sh_post AS MATERIALIZED (SELECT doc_id, unnest(s) AS s FROM shl),
        sh_cnt AS MATERIALIZED (SELECT doc_id, len(s) AS n FROM shl),
        sh_co AS MATERIALIZED (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM sh_post a JOIN sh_post b USING (s)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
"""

ORACLE_JACCARD_PAIR_CTES = f"""{ORACLE_SHINGLE_CTES},
        jpairs AS MATERIALIZED (
            SELECT doc_a, doc_b, inter, ca.n + cb.n - inter AS uni
            FROM sh_co JOIN sh_cnt ca ON ca.doc_id = sh_co.doc_a
                       JOIN sh_cnt cb ON cb.doc_id = sh_co.doc_b
            WHERE inter::DOUBLE / (ca.n + cb.n - inter) >= {JACCARD_THRESHOLD}
        )
"""

_ORACLE_EXACT_JACCARD = f"""
        WITH {ORACLE_JACCARD_PAIR_CTES}
        SELECT doc_a, doc_b, inter, uni,
               {_sql_round4('inter', 'uni')} AS jac
        FROM jpairs
"""


def _exact_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ threshold pairs via inverted-index self-join.

    Shape: explode distinct shingles → self-join on shingle (equi
    join, shuffle keyed by shingle) → count co-occurrences = |A∩B| →
    join per-doc shingle counts → |A∪B| = |A|+|B|−|A∩B|. All integer
    math; the only double is the final ratio (deterministic: one
    division of exact ints), so the threshold cut is engine-stable.
    """
    sh = _doc_shingles(spark, sf_dir)
    counts = sh.select("doc_id", F.size("sh").alias("n_sh"))
    posting = sh.select("doc_id", F.explode("sh").alias("s"))
    co = (
        posting.alias("a")
        .join(posting.alias("b"), ["s"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    j = (
        co.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .withColumn("jacc", F.col("inter").cast("double") / F.col("uni"))
    )
    return j.filter(F.col("jacc") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", "inter", "uni", _int_round4("inter", "uni").alias("jac")
    )


@register(
    "q_ngram_jaccard",
    oracle=_ORACLE_EXACT_JACCARD,
    doc="Exact character-5-gram Jaccard near-dup pairs (C2 ground truth).",
    # bench=False: the exact posting-list self-join is O(sum df(s)^2)
    # — on this corpus's tiny shared vocabulary a stopword-like
    # shingle pairs nearly every doc with every other, which is the
    # textbook blow-up MinHash-LSH exists to avoid. It stays as the
    # sf0.01 correctness ground truth; q_minhash_neardup is the
    # benched, scale-shaped path computing the same answer.
    bench=False,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _exact_jaccard_pairs(spark, sf_dir)


# Containment: inter / |smaller set|. A short document fully quoted
# inside a long one has containment ≈ 1 but Jaccard ≈ |short|/|long|
# — the web-corpus subset-duplication case symmetric Jaccard dedup
# systematically misses.
CONTAINMENT_THRESHOLD = 0.9


_ORACLE_CONTAINMENT = f"""
        WITH {ORACLE_SHINGLE_CTES}
        SELECT doc_a, doc_b, inter,
               least(ca.n, cb.n) AS n_small,
               {_sql_round4('inter', 'least(ca.n, cb.n)')} AS cont
        FROM sh_co JOIN sh_cnt ca ON ca.doc_id = sh_co.doc_a
                   JOIN sh_cnt cb ON cb.doc_id = sh_co.doc_b
        WHERE inter::DOUBLE / least(ca.n, cb.n) >= {CONTAINMENT_THRESHOLD}
    """


@register(
    "q_containment",
    oracle=_ORACLE_CONTAINMENT,
    doc="Asymmetric near-dup: shingle containment ≥ 0.9 of the smaller "
    "document in the larger (C2 family — subset duplication).",
    # bench=False for the same reason as q_ngram_jaccard: the exact
    # posting-list self-join is the quarantined sf0.01 ground truth.
    # The scale path for containment is LSH over the SMALLER side's
    # signature with exact verification — the candidate generator
    # must band the small set alone (symmetric MinHash-Jaccard
    # banding misses low-Jaccard/high-containment pairs by design);
    # out of scope until the corpus has real subset duplicates.
    bench=False,
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs via the same inverted-index self-join as
    :func:`_exact_jaccard_pairs` — explode distinct shingles, equi
    self-join on shingle, count co-occurrences — with the asymmetric
    ``inter / min(|A|, |B|)`` threshold instead of Jaccard. Integer
    math throughout; one double division at the cut, so the result is
    engine-stable and hash-checked.
    """
    sh = _doc_shingles(spark, sf_dir)
    counts = sh.select("doc_id", F.size("sh").alias("n_sh"))
    posting = sh.select("doc_id", F.explode("sh").alias("s"))
    co = (
        posting.alias("a")
        .join(posting.alias("b"), ["s"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        co.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("n_small", F.least("na", "nb"))
        .withColumn("cont", F.col("inter").cast("double") / F.col("n_small"))
        .filter(F.col("cont") >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "n_small",
            _int_round4("inter", "n_small").alias("cont"),
        )
    )


# Containment-threshold numerator/denominator as integers (0.9 = 9/10)
# so the prefix length is computed in pure integer arithmetic:
# ⌈(t_num·n)/t_den⌉ = (t_num·n + t_den − 1) div t_den, exact for any
# threshold and any n by construction. A float ceil(t·n) is correct
# only when t·n's double rounding never crosses an integer the wrong
# way — empirically true for t=0.9 over n ≤ 1e5 (0.9·10 rounds DOWN
# to exactly 9.0) but a per-(t, range) proof obligation; an unlucky
# threshold would silently SHORTEN the prefix, a recall bug, not a
# rounding nit. Integer arithmetic deletes the obligation.
CONTAINMENT_T_NUM = 9
CONTAINMENT_T_DEN = 10
assert CONTAINMENT_T_NUM / CONTAINMENT_T_DEN == CONTAINMENT_THRESHOLD


@register(
    "q_containment_prefix",
    # EXACT scale path, so it shares q_containment's oracle with no
    # recall condition: prefix filtering provably generates every
    # qualifying pair at every scale (see the proof in the docstring),
    # and verification is the same exact integer arithmetic.
    oracle=_ORACLE_CONTAINMENT,
    doc="Containment via ppjoin-style prefix filtering — the exact "
    "scale path for subset-duplication detection (C2 family).",
    # bench=False like the rest of the exact-containment family, with
    # measurement: the prefix filter cuts candidate rows 65x vs the
    # full posting self-join (sf0.1: 13.8M vs 769M; sf0.01: 119k vs
    # 7.8M) but this corpus's 31-token vocabulary keeps even
    # rarest-first prefixes dense (6.2M distinct candidates against
    # 256 true pairs at sf0.1 — background Jaccard ~0.3 defeats every
    # exact method; ppjoin's positional filter was measured too: 13.79M
    # -> 13.69M, ineffective because matches land at early ranks). On
    # natural text, rare-shingle df ~ 1 and this IS the production
    # exact path; here it stays the quarantined ground-truth tier.
    bench=False,
)
def q_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs via prefix filtering (the ppjoin family,
    Xiao et al., WWW'08) — the production replacement for
    q_containment's full posting-list self-join, EXACT at any scale.

    The filter: order the shingle universe canonically by (global df
    asc, shingle asc). For the smaller set S of a qualifying pair,
    |S ∩ T| ≥ ⌈t·|S|⌉, so among ANY |S| − ⌈t·|S|⌉ + 1 of S's
    shingles at least one is shared with T (else the intersection
    fits inside the remaining ⌈t·|S|⌉ − 1). Taking that prefix in
    rarest-first order makes the candidate join's per-shingle
    fan-out prefix_df(s) · df(s) instead of df(s)² — stopword
    shingles have huge df but ~never appear in a rarest-first
    prefix, so the blow-up term vanishes while recall stays exactly
    1. At t = 0.9 the prefix is ~10% of each doc's shingles.

    Plan: df aggregate (shuffle by shingle) → rarest-first
    row_number window per doc (shuffle by doc_id) → prefix(smaller
    role) ⋈ full-postings(larger role) on shingle (shuffle by
    shingle; the smaller role is canonicalized by (n_sh, doc_id) so
    each unordered pair generates once) → distinct candidates →
    exact array_intersect verification against the staged shingle
    sets. Every stage's key fan-out is bounded by the prefix
    construction; no LSH-style cap (and therefore no cap headroom
    condition) is needed for correctness.
    """
    sh = minhash_signatures(spark, sf_dir)
    posting = sh.select(
        "doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("s")
    )
    dfc = posting.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("s"))
    prefix_len = (
        F.col("n_sh")
        - F.expr(
            f"({CONTAINMENT_T_NUM} * n_sh + {CONTAINMENT_T_DEN - 1}) "
            f"DIV {CONTAINMENT_T_DEN}"
        )
        + F.lit(1)
    )
    pref = (
        posting.join(dfc, "s")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= prefix_len)
        .select("doc_id", "n_sh", "s")
    )
    cand = (
        pref.alias("a")
        .join(posting.alias("b"), ["s"])
        .filter(
            (F.col("a.n_sh") < F.col("b.n_sh"))
            | (
                (F.col("a.n_sh") == F.col("b.n_sh"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
            )
        )
        .select(
            F.col("a.doc_id").alias("small_doc"),
            F.col("b.doc_id").alias("big_doc"),
        )
        .distinct()
    )
    ss = sh.select(F.col("doc_id").alias("small_doc"), F.col("sh").alias("sh_s"))
    sb = sh.select(F.col("doc_id").alias("big_doc"), F.col("sh").alias("sh_b"))
    return (
        cand.join(ss, "small_doc")
        .join(sb, "big_doc")
        .withColumn("inter", F.size(F.array_intersect("sh_s", "sh_b")))
        .withColumn("n_small", F.least(F.size("sh_s"), F.size("sh_b")))
        .withColumn("cont", F.col("inter").cast("double") / F.col("n_small"))
        .filter(F.col("cont") >= CONTAINMENT_THRESHOLD)
        .select(
            F.least("small_doc", "big_doc").alias("doc_a"),
            F.greatest("small_doc", "big_doc").alias("doc_b"),
            "inter",
            "n_small",
            _int_round4("inter", "n_small").alias("cont"),
        )
    )


def minhash_candidates(sh: DataFrame, cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """(doc_a, doc_b) LSH candidate pairs with the bucket cap — NOT
    deduplicated: a pair colliding in several bands appears once per
    colliding band.

    Shape: equi-self-join of the capped band entries on the band key;
    the cap's window rides the band-key shuffle the join needs anyway.
    Per-key pair fan-out stays ≤ cap²/2 however degenerate the corpus.
    A collect_list + in-row pair-expansion fold was measured against
    this join: its slice-copies grow quadratically with bucket size
    (2.9 s vs 0.65 s at sf1 for this generator; 22x worse for
    SimHash's denser buckets).

    Deduplication is the CONSUMER's job, placed after its cheapest
    per-pair filter: a ``distinct`` here shuffles the full candidate
    volume (~40 s for a 10M-pair distinct on the sf1 rehearsal corpus,
    the largest slice of the query), while the signature prefilter cuts
    those rows to thousands map-side first. Multi-band duplication is
    small anyway (4% on the rehearsal corpus).

    The capped band-entry table is staged before the self-join. Left
    lazy, BOTH join sides re-derive it — two band expansions, two
    band-key exchanges, two sorts, two cap windows per execution.
    Staged, expansion and cap run once and the join reads thin
    (doc_id, band_key) bytes twice.
    """
    bands = stage(
        _capped_band_entries(_minhash_band_entries(sh), ["band_key"], cap),
        "minhash_bands",
    )
    return (
        bands.alias("a")
        .join(bands.alias("b"), ["band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )


def minhash_band_stats(
    spark: SparkSession, sf_dir: str, cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Bucket-layout diagnostics for the MinHash bands over a corpus
    (kept/skipped candidate pairs, over-cap bucket count)."""
    return _band_stats(
        _minhash_band_entries(minhash_signatures(spark, sf_dir)), ["band_key"], cap
    )


@register(
    "q_minhash_neardup",
    # LSH misses a true ≥0.8 pair with prob ~1e-9 at this corpus's pair
    # distribution (see MINHASH_PERMS note) and false candidates are
    # exactly verified away, so the output equals the exact-Jaccard
    # query and can share its oracle. Neither cap can break that
    # equality at oracle scales: the bucket cap only binds above
    # LSH_BUCKET_CAP members per bucket (measured max 28 at sf0.01 /
    # 276 at sf0.1) and the shingle-df cap only above SHINGLE_DF_CAP
    # docs per shingle (measured max 402 / 3,923) — both headrooms
    # asserted in tests/test_dedup.py.
    oracle=_ORACLE_EXACT_JACCARD,
    doc="MinHash + banded LSH candidates, exact-Jaccard verified (C2).",
)
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash-LSH, the 100 TB-shaped path: the
    shared chain as a self-join over the staged signature table.

    1. signature: per doc, 64 minhashes, computed in the same Arrow
       pass as shingling (:func:`minhash_signatures`); map-only;
    2. banding: 16 bands of 4 rows, band key = xxhash64 of the band's
       slice of the signature; self-join on the band key, whose
       buckets are tiny by construction and capped
       (:func:`minhash_candidates`);
    3. signature-agreement prefilter, then distinct;
    4. exact Jaccard verification on the two docs' shingle sets only
       — no posting-list join.

    Contrast with q_ngram_jaccard: that shuffles the full posting
    list (O(total shingles) rows, skew-prone); this shuffles one row
    per (doc, band) — 16 rows per doc regardless of document size.
    """
    sh = minhash_signatures(spark, sf_dir)
    n_parts = spark.sparkContext.defaultParallelism
    # Rebalance the thin candidate pairs before the prefilter: a hot
    # band bucket emits up to cap²/2 pairs, so the one stage running
    # band join + sig joins + the 64-element agreement fold was
    # task-skewed (calm A/B at sf0.1: that stage 2.76 → 1.70 s). The
    # exchange moves 16-byte pair rows only. After the distinct the
    # survivors are a few KB, which AQE would coalesce to ONE
    # partition (verification ran as a single 1.5 s task on an idle
    # 32-core host); an explicit round-robin repartition is exempt
    # from coalescing, so verification fans out.
    cand = minhash_candidates(sh).repartition(n_parts)
    surv = (
        _sig_prefilter(_join_sides(cand, sh, SELF_PAIR, "sig"), SELF_PAIR)
        .select("doc_a", "doc_b")
        .distinct()
        .repartition(n_parts)
    )
    return _jaccard_verify(_join_sides(surv, sh, SELF_PAIR, "sh"), SELF_PAIR)


# The cross-split exact-Jaccard ground truth: q_incremental_dedup's
# oracle, shared verbatim by q_dedup_index_probe (dedup_index.py).
INCREMENTAL_DEDUP_ORACLE = f"""
        WITH {ORACLE_JACCARD_PAIR_CTES}
        SELECT CASE WHEN doc_a % {INCR_BATCH_MOD} < {INCR_BATCH_RESIDUE}
                    THEN doc_a ELSE doc_b END AS corpus_doc,
               CASE WHEN doc_a % {INCR_BATCH_MOD} < {INCR_BATCH_RESIDUE}
                    THEN doc_b ELSE doc_a END AS new_doc,
               inter, uni, {_sql_round4('inter', 'uni')} AS jac
        FROM jpairs
        WHERE (doc_a % {INCR_BATCH_MOD} < {INCR_BATCH_RESIDUE})
           <> (doc_b % {INCR_BATCH_MOD} < {INCR_BATCH_RESIDUE})
    """


@register(
    "q_incremental_dedup",
    # Same exact-Jaccard ground truth as q_minhash_neardup, restricted
    # to cross-split pairs and re-keyed as (corpus_doc, new_doc). The
    # LSH-miss / cap-headroom argument carries over unchanged (the
    # split sides band the SAME signatures into buckets that are
    # subsets of the full corpus's, so every headroom measured for
    # q_minhash_neardup bounds this query's too).
    oracle=INCREMENTAL_DEDUP_ORACLE,
    doc="Incremental near-dup: a new-batch split LSH-probed against the "
    "existing corpus only — the crawl-ingest dedup shape (C2 family).",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus MinHash dedup — the shape a production ingest
    actually runs: each fresh crawl batch is checked against the
    already-deduplicated corpus, NOT all-pairs over corpus ∪ batch.

    Why this is its own operator and not a filter over
    q_minhash_neardup: the candidate join here is band-bucket
    batch×corpus, so candidate volume scales with |batch| × bucket
    occupancy instead of the full corpus's pair mass — at 100 TB the
    corpus side is a persisted signature index (the staged table
    standing in for it) and each nightly batch re-probes it without
    recomputing or re-pairing the corpus against itself. Intra-batch
    duplicates are deliberately out of scope (a real pipeline runs
    the self-join dedup on the batch alone first — that operator is
    q_minhash_neardup).

    The shared chain over the split: band both sides, equi-join batch
    bands against CORPUS bands (bucket cap on the corpus side, where
    degenerate buckets live; a batch band with no corpus twin dies
    map-side in the join), signature-agreement prefilter, distinct,
    exact Jaccard verify. Output keyed (corpus_doc, new_doc) — the
    consumer drops or links new docs, never corpus ones.
    """
    sh = minhash_signatures(spark, sf_dir)
    corpus_bands = _capped_band_entries(
        _minhash_band_entries(batch_split(sh, new=False)),
        ["band_key"],
        LSH_BUCKET_CAP,
    ).selectExpr("doc_id AS corpus_doc", "band_key")
    batch_bands = _minhash_band_entries(batch_split(sh, new=True)).selectExpr(
        "doc_id AS new_doc", "band_key"
    )
    # the same thin-pair rebalance as q_minhash_neardup's
    cand = (
        batch_bands.join(corpus_bands, "band_key")
        .select("corpus_doc", "new_doc")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    surv = (
        _sig_prefilter(_join_sides(cand, sh, CROSS_PAIR, "sig"), CROSS_PAIR)
        .select("corpus_doc", "new_doc")
        .distinct()
    )
    return _jaccard_verify(_join_sides(surv, sh, CROSS_PAIR, "sh"), CROSS_PAIR)


# MATERIALIZED pair CTEs are essential here: inside WITH RECURSIVE a
# plain CTE would be re-evaluated on every iteration of ``reach``
# (measured 71 s -> 0.7 s at sf0.01 after materializing).
# The component computation is shared verbatim by the clusters and
# survivors oracles (comp = per-doc min-reachable-id).
_ORACLE_COMPONENT_CTES = f"""{ORACLE_JACCARD_PAIR_CTES},
        edges AS MATERIALIZED (
            SELECT doc_a AS s, doc_b AS t FROM jpairs
            UNION ALL
            SELECT doc_b, doc_a FROM jpairs
        ), reach AS (
            SELECT s AS doc_id, s AS r FROM edges
            UNION
            SELECT re.doc_id, e.t FROM reach re JOIN edges e ON e.s = re.r
        ), comp AS (
            SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
        )"""

_ORACLE_DEDUP_CLUSTERS = f"""
        WITH RECURSIVE {_ORACLE_COMPONENT_CTES}
        SELECT doc_id, cluster_id FROM comp
"""


# Driver union-find budget for q_dedup_clusters' small-graph regime:
# 2M edges × 2 int64 ≈ 32 MB through Arrow — the engine's bounded-
# collect band (plans/hints.py's BROADCAST_KEY_ROWS uses the same
# 10s-of-MB argument). Above it the distributed min-label fixpoint
# runs unchanged.
CLUSTERS_LOCAL_MAX_PAIRS = 2_000_000


def _union_find_labels(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Connected components of a bounded (doc_a, doc_b) edge list via
    driver-side union-find, labeling every endpoint with its
    component's MINIMUM doc_id — bit-identical to the distributed
    min-label fixpoint (which converges to exactly that label) and to
    the DuckDB recursive-CTE oracle. Caller enforces the size gate."""
    pdf = pairs.toPandas()  # bounded by CLUSTERS_LOCAL_MAX_PAIRS
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-root invariant: the root IS the component minimum
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    # Return through the Arrow path (ADVICE r17 #3): a list of tuples
    # routes through parallelize+pickle — an order of magnitude more
    # driver memory/time at the gate boundary than handing Arrow a
    # pandas frame of two int64 columns.
    import pandas as pd

    docs = sorted(parent)
    out = pd.DataFrame(
        {
            "doc_id": pd.Series(docs, dtype="int64"),
            "cluster_id": pd.Series([find(d) for d in docs], dtype="int64"),
        }
    )
    return spark.createDataFrame(out, "doc_id long, cluster_id long")


@register(
    "q_dedup_clusters",
    oracle=_ORACLE_DEDUP_CLUSTERS,
    doc="Connected components over the near-dup graph: canonical doc per cluster.",
    bench=True,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative algorithm surface: union near-dup pairs into
    clusters (connected components), labeling every member with the
    component's minimum doc_id — the "keep one canonical doc per
    near-dup family" step that follows pair detection in a real
    dedup pipeline.

    Implementation is Pregel-shaped min-label propagation: each
    round, every node takes min(own label, neighbors' labels) — a
    join + groupBy per round, converging in O(component diameter)
    rounds (near-dup families are tiny; the loop also hard-stops at
    a bound). The driver loop only *orchestrates*; every round is a
    distributed join, and convergence is detected with a count — the
    standard Spark iteration pattern (GraphX/GraphFrames do exactly
    this under the hood). The oracle is a DuckDB recursive CTE
    computing the same components — i.e., the iterative result is
    hash-checked against an independent fixpoint engine.

    Note: runs jobs at build time by nature (fixpoint detection) —
    registered as an executed/iterative query, exempt from the
    lazy-builder contract (tests/test_registry.py).

    The converged labels are memoized per (session, sf_dir) — the
    iterative-query analog of stage()'s plan memo: inputs are static
    engine tables, the fixpoint is deterministic, so one process
    never needs to run it twice. This is what makes downstream
    consumers (q_dedup_survivors) marginal-cost: detect → cluster
    runs once, survivor selection adds only its linear tail.

    Regime gate: when the staged pair slot is small
    (footer row count ≤ CLUSTERS_LOCAL_MAX_PAIRS), components come
    from driver union-find over one Arrow collect instead of the
    fixpoint — same labels by construction, ~15 orchestration jobs
    fewer. The fixpoint below is the above-gate (100 TB) path.
    """
    memo = _CLUSTERS_MEMO.get(sf_dir)
    if memo is not None and memo.sparkSession is spark:
        return memo
    # Small-graph regime: when the staged pair slot is small, run union-find on
    # the driver instead of the distributed fixpoint. The gate decides
    # off parquet-footer metadata the stage write just produced (zero
    # jobs); ≤ CLUSTERS_LOCAL_MAX_PAIRS edges of two int64s is ≤ 32 MB
    # through Arrow — the same bounded-collect class as the engine's
    # other gated driver reads. The fixpoint costs O(diameter) rounds
    # of join+groupBy+checkpoint+count (~15 jobs; measured 0.8-1.5 s
    # of pure orchestration at sf0.1 for a few-hundred-edge graph);
    # union-find is one Arrow collect + one local relation. Labels are
    # identical by construction — min-label propagation converges to
    # the component minimum, which is exactly what union-find's
    # min-root invariant maintains (pinned both ways by
    # test_dedup_clusters_local_equals_fixpoint). Above the gate the
    # distributed fixpoint below remains the 100 TB path.
    from mapreduceapp_spark.plans.staging import staged_row_count

    # the pair slot, not a checkpoint: q_curation_pipeline and the
    # other pair consumers read the same bytes, and the fixpoint's
    # fan-out reads parquet instead of re-deriving the detection per
    # branch
    pairs = minhash_pairs(spark, sf_dir)
    n_pairs = staged_row_count(pairs)
    if n_pairs is not None and n_pairs <= CLUSTERS_LOCAL_MAX_PAIRS:
        result = _union_find_labels(spark, pairs)
        _CLUSTERS_MEMO[sf_dir] = result
        return result
    # edges come from the LSH path (scales; output proven equal to
    # the exact pairs — see q_minhash_neardup), so clustering at
    # 100 TB never touches the quadratic posting-list join the
    # recursive-CTE oracle uses at sf0.01. Edges (both directions) and
    # the initial labels all read the staged pair slot; re-running the
    # detection per branch measured 23 s vs 6 s at sf0.1.
    #
    # RELIABLE checkpoints (not localCheckpoint): localCheckpoint
    # stores blocks in executor storage with no lineage left to
    # recompute from, so one executor loss mid-fixpoint kills the
    # whole job — unacceptable for a long iterative run on a real
    # cluster. checkpoint() writes to the configured checkpoint
    # directory (durable shared storage on a cluster; a temp dir on
    # local[*]) and survives executor loss. The per-round lineage
    # cut it provides is the same one that took the sf0.1 run from
    # 23 s to 6 s when first introduced.
    _ensure_checkpoint_dir(spark)
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    # nodes start labeled with themselves
    labels = edges.select(F.col("doc_a").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    ).checkpoint()
    # Components are near-dup families — diameter is typically tiny —
    # but the bound is a backstop, not a correctness assumption: if
    # the loop exits without converging (a component with diameter >
    # the bound, e.g. a long chain of pairwise near-dups), the labels
    # would be silently wrong, so raise instead of returning them.
    max_rounds = 20
    changed = -1
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges.doc_a == labels.doc_id)
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # carry the pre-round label through the checkpoint so
        # convergence detection is a filter over the (tiny, already
        # materialized) checkpoint — not a second join of old vs new
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
                F.col("cluster_id").alias("prev_id"),
            )
            .checkpoint()  # fixpoint loop: cut lineage per round
        )
        changed = new_labels.filter(F.col("cluster_id") != F.col("prev_id")).count()
        labels = new_labels.select("doc_id", "cluster_id")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"q_dedup_clusters: min-label propagation did not converge "
            f"within {max_rounds} rounds ({changed} labels still "
            f"changing); a near-dup component has diameter > "
            f"{max_rounds} — raise the bound for this corpus"
        )
    result = labels.select("doc_id", "cluster_id")
    _CLUSTERS_MEMO[sf_dir] = result
    return result


# Converged cluster labels per sf_dir, for THIS process's session —
# see the q_dedup_clusters docstring. The session check on read
# mirrors staging._STAGED_PLANS: labels reference checkpointed RDDs
# bound to the session that computed them.
_CLUSTERS_MEMO: dict[str, DataFrame] = {}


@register(
    "q_dedup_survivors",
    oracle=f"""
        WITH RECURSIVE {_ORACLE_COMPONENT_CTES},
        sizes AS (
            SELECT cluster_id, count(*) AS n FROM comp GROUP BY cluster_id
        )
        SELECT d.doc_id, coalesce(s.n - 1, 0) AS n_dups
        FROM documents d
        LEFT JOIN comp c ON c.doc_id = d.doc_id
        LEFT JOIN sizes s ON s.cluster_id = c.cluster_id
        WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    """,
    doc="Canonical-survivor selection after near-dup clustering: one doc "
    "per family plus all singletons, with the removed-duplicate count.",
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step a real dedup pipeline actually ships: the kept corpus.

    detect (q_minhash_neardup) → cluster (q_dedup_clusters) →
    **select survivors**: each near-dup family keeps its minimum
    doc_id (= the component label, since min-label propagation starts
    from own ids), every unpaired doc keeps itself, and each survivor
    carries ``n_dups`` — how many documents it displaced — the
    number curation reports aggregate.

    Scale shape: everything after clustering is linear — one
    (cluster_id) count aggregate over the (small) clustered set, a
    broadcast-size filter for survivors, and an anti-join of the
    corpus against clustered doc_ids (N rows shuffled by id once).
    The pair slot and the fixpoint are shared with
    q_dedup_clusters / q_curation_pipeline via stage(), so in a
    multi-query run survivor selection adds only the linear tail.

    Reference anchor: the reference's contract ends at a grouped fold
    (MapReduceClient.h:61-64); survivor selection is the LLM-pipeline
    composition of its group-and-reduce with the clustering fixpoint.
    """
    clusters = q_dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    kept_clustered = (
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .join(sizes, "cluster_id")
        .select("doc_id", (F.col("n") - 1).alias("n_dups"))
    )
    d = tables(spark, sf_dir).documents
    singletons = d.join(
        clusters.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", F.lit(0).cast("long").alias("n_dups"))
    return kept_clustered.unionByName(singletons)


def _simhash(doc_tokens: DataFrame) -> DataFrame:
    """60-bit SimHash per doc from token multiset.

    Classic Charikar scheme: each token votes ±1 on each bit of its
    60-bit hash; the fingerprint's bit b is 1 iff the vote sum is
    positive. Implemented as 60 conditional-sum aggregate columns
    over (doc, token, cnt) rows — no row fan-out at all, and every
    sum partial-aggregates map-side, so the shuffle carries one
    64-column row per (partition, doc). (A first cut posexploded to
    (doc, bit, vote) rows: 64× the shuffle volume for the same
    answer — measurably slower at bench scale and strictly worse at
    100 TB.)
    """
    # sha256-derived 60-bit token hash (first 15 hex chars): ~2x the
    # per-token cost of xxhash64, but bit-identically reproducible in
    # DuckDB — which is what buys the SQL oracle on the whole SimHash
    # path. A throughput-critical deployment swaps this one line back
    # to xxhash64 and drops the oracle; everything else is unchanged.
    tok_hash = doc_tokens.select(
        "doc_id",
        F.col("cnt"),
        F.conv(F.substring(F.sha2(F.col("tok"), 256), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    bit_votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.col("cnt")
            ).otherwise(-F.col("cnt"))
        ).alias(f"v_{b}")
        for b in range(SIMHASH_BITS)
    ]
    bit_sums = tok_hash.groupBy("doc_id").agg(*bit_votes)
    fingerprint = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"v_{b}") > 0, F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")
                ).otherwise(F.lit(0).cast("long"))
                for b in range(SIMHASH_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return fingerprint


@register(
    "q_simhash_neardup",
    # The oracle recomputes the SimHash fingerprints from scratch in
    # SQL (same sha256-hex token hash, same ±1 votes, same >0 tie
    # rule) and brute-forces ALL pairs — the exact ground truth the
    # engine's banded join must reproduce. The banded-join ≡
    # brute-force equivalence is additionally pinned Spark-side in
    # tests/test_dedup.py.
    oracle=f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id, unnest({oracle_tokens('text')}) AS tok
            FROM documents
        ),
        th AS (
            SELECT doc_id,
                   list_reduce(
                       list_transform(
                           generate_series(1, 15),
                           i -> CAST(instr('0123456789abcdef',
                                           substr(sha256(tok), i, 1)) - 1
                                AS BIGINT)),
                       (a, b) -> a * 16 + b) AS h
            FROM toks
        ),
        votes AS (
            SELECT doc_id, b,
                   sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
            FROM th, unnest(generate_series(0, {SIMHASH_BITS - 1})) AS t(b)
            GROUP BY doc_id, b
        ),
        fp AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0
                                 THEN (CAST(1 AS BIGINT) << b)
                                 ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
    doc="SimHash near-dup pairs (hamming ≤ 3) via pigeonhole band join (C2).",
)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with a scale-safe banded join.

    Pigeonhole: if hamming(a,b) ≤ 3, then splitting the 60 bits into
    4 bands of 15 leaves at least one band identical. So candidates =
    pairs agreeing on (band_id, band_bits) — an equi-join — then the
    exact hamming filter. Exactly the brute-force result, never an
    O(N²) comparison. (Tested equivalent to the brute-force scan.)

    The bucket cap (:data:`LSH_BUCKET_CAP`) is the one documented
    deviation from exact pigeonhole: a pair whose ONLY agreeing band
    sits in an over-cap bucket is skipped. At the oracle scales the
    cap never binds (max bucket 28/238 at sf0.01/sf0.1 vs cap 1024),
    so the brute-force equality and the SQL oracle stay exact; on an
    adversarially dense corpus it bounds the candidate volume, which
    uncapped grew 1250x for 10x rows on the sf1 rehearsal corpus.
    """
    cand = simhash_candidates(_simhash_fp(spark, sf_dir))
    return (
        cand.selectExpr(
            "doc_a", "doc_b", "bit_count(sh_a ^ sh_b) AS hamming"
        )
        .filter(f"hamming <= {SIMHASH_MAX_HAMMING}")
        # distinct after the hamming cut: the full candidate stream
        # (3.7M rows at rehearsal scale even capped) never shuffles —
        # only the hamming-≤3 survivors do (see minhash_candidates)
        .distinct()
    )


def _simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's staged (doc_id, simhash) table — the one producer
    of the ``simhash_fp`` slot. Staged because both sides of the banded
    self-join consume it: lazy, Spark computes the full token-vote
    aggregation once PER SIDE (0 ReusedExchange in the executed plan —
    the band projections differ per side). The table is N rows of
    (doc_id, int64), and the corpus-sized vote aggregation runs once."""

    def fingerprints() -> DataFrame:
        # one row per token OCCURRENCE with weight 1: summing ±1 votes
        # over occurrences equals summing cnt-weighted votes over
        # distinct tokens, so no (doc, tok) pre-aggregation shuffle
        return _simhash(
            spread_table(spark, sf_dir, "documents").selectExpr(
                "doc_id", f"explode({tokens_sql('text')}) AS tok", "1 AS cnt"
            )
        )

    return slot(spark, "simhash_fp", sf_dir, fingerprints)


def _simhash_band_entries(fp: DataFrame) -> DataFrame:
    """(doc_id, simhash, band_id, band_bits) rows — SIMHASH_BANDS per
    doc — from the fingerprint table, as one selectExpr."""
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    arr = ", ".join(
        f"shiftrightunsigned(simhash, {b * band_bits}) & {mask}"
        for b in range(SIMHASH_BANDS)
    )
    return fp.selectExpr(
        "doc_id",
        "simhash",
        f"posexplode(array({arr})) AS (band_id, band_bits)",
    )


def simhash_candidates(fp: DataFrame, cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """(doc_a, doc_b, sh_a, sh_b) pigeonhole candidates with the
    bucket cap: pairs agreeing on some (band_id, band_bits) whose
    bucket holds ≤ ``cap`` docs — NOT deduplicated (a pair agreeing
    on several bands appears once per band; near-identical
    fingerprints agree on all 4). Uncapped, this generator's candidate
    volume grew 1250x for 10x rows on the sf1 rehearsal corpus
    (half-salted replicas keep fingerprints within banding distance);
    the cap bounds any single bucket's fan-out at cap²/2.

    Shape: equi-self-join on (band_id, band_bits) with the shared
    window cap (:func:`_capped_band_entries`) over the same key; the
    sf1 candidate stage takes 0.9-1.6 s this way. Deduplication
    belongs AFTER the consumer's hamming filter, where the survivor
    set is tiny, not on the full candidate stream (the
    minhash_candidates note has the measured cost)."""
    bands = _capped_band_entries(
        _simhash_band_entries(fp), ["band_id", "band_bits"], cap
    )
    bb = bands.selectExpr(
        "doc_id AS doc_b", "simhash AS sh_b", "band_id", "band_bits"
    )
    return (
        bands.join(bb, ["band_id", "band_bits"])
        .filter("doc_id < doc_b")
        .selectExpr("doc_id AS doc_a", "doc_b", "simhash AS sh_a", "sh_b")
    )


def simhash_band_stats(
    spark: SparkSession, sf_dir: str, cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Bucket-layout diagnostics for the SimHash pigeonhole bands
    over a corpus (kept/skipped candidate pairs, over-cap buckets)."""
    return _band_stats(
        _simhash_band_entries(_simhash_fp(spark, sf_dir)),
        ["band_id", "band_bits"],
        cap,
    )


@register(
    "q_dup_degree",
    oracle=f"""
        WITH {ORACLE_JACCARD_PAIR_CTES},
        deg AS (
            SELECT doc_id, count(*) AS degree FROM (
                SELECT doc_a AS doc_id FROM jpairs
                UNION ALL
                SELECT doc_b FROM jpairs
            ) GROUP BY doc_id
        )
        SELECT degree, count(*) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS example_doc
        FROM deg GROUP BY degree
    """,
    doc="Near-dup graph degree distribution: how many docs have k near-dup partners.",
)
def q_dup_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-duplicate graph — the shape
    diagnostic a dedup pipeline checks before clustering: a long
    degree tail means template/boilerplate families (and motivates
    the mega-cluster sub-bucketing q_semantic_prune carries), while
    degree ≈ 1 means simple pair dedup suffices.

    Composes the SAME staged LSH pair slot as q_dedup_clusters and
    q_curation_pipeline (pair detection runs once per process; this
    query adds only #pairs-sized work): explode both endpoints,
    count per doc, histogram the counts. The oracle recomputes the
    pairs exactly (shared Jaccard CTEs) and takes the same
    distribution — LSH-vs-exact equality is inherited from the
    verified pair detection.
    """
    pairs = minhash_pairs(spark, sf_dir)
    both = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = both.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("example_doc"),
    )


@register(
    "q_dup_rate_by_source",
    oracle=f"""
        WITH {ORACLE_JACCARD_PAIR_CTES}
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               count(*) AS n_pairs
        FROM jpairs p
        JOIN documents da ON da.doc_id = p.doc_a
        JOIN documents db ON db.doc_id = p.doc_b
        GROUP BY 1, 2
    """,
    doc="Near-dup pair counts per unordered source pair — which corpus "
    "sources duplicate each other (C2 diagnostic for mixture design).",
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where do the duplicates come from? Counts near-dup pairs per
    unordered (source, source) combination — the diagnostic that
    tells a mixture designer whether duplication is within one
    crawl/source (re-crawls, mirrors) or across sources (syndication)
    before choosing per-source dedup vs global dedup.

    Composes the SAME staged LSH pair slot as the other pair
    consumers (detection runs once per process); the join back to
    ``documents`` for the source column is #pairs-sized against an
    N-row side keyed by doc_id, then a tiny group-count. Sources are
    canonicalized with least/greatest so (a,b) and (b,a) land in one
    bucket on any engine.
    """
    pairs = minhash_pairs(spark, sf_dir)
    d = tables(spark, sf_dir).documents
    sa = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
