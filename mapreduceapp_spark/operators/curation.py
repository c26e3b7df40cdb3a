"""Training-data curation operators: deterministic dataset splitting
and token-budget sequence packing (SURVEY.md §2.C family).

The reference has no notion of dataset curation (its pipeline ends at
``reduce`` output, ``MapReduceFramework.cpp:202-225``); these extend
the LLM-pipeline surface (C-family) with the two bookkeeping steps
every large-scale training corpus needs between "documents" and
"batches": which split does a document belong to, and which packed
context window does it land in.

Scale notes (100 TB):
- ``q_sample_split`` is *map-only*: a content-keyed hash bucket per
  row, zero shuffles, scan throughput. Hash-of-id splitting (rather
  than random() or row position) is what makes splits stable under
  repartitioning, backfills, and re-runs — the split of a document
  never changes when the corpus around it does.
- ``q_pack_sequences`` packs within hash shards, so the cumulative-sum
  window parallelizes across shards (shard count scales with the
  cluster; packing quality is per-shard and unaffected). One shuffle,
  keyed by shard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceapp_spark.functions.text import (
    oracle_tokens,
    token_count_sql,
    tokens_sql,
)
from mapreduceapp_spark.operators.text import BPE_TOKEN_RE
from mapreduceapp_spark.plans.registry import register
from mapreduceapp_spark.sources import spread_table, tables

# Split fractions in bucket points (out of 100): train 80 / val 10 / test 10.
TRAIN_CUT, VAL_CUT = 80, 90


def hash_bucket_sql(key: str, buckets: int = 100, salt: str = "") -> str:
    """Deterministic cross-engine bucket in [0, buckets) from a key —
    the one Spark form, a SQL string spliced into ``selectExpr`` or
    ``F.expr``; :func:`oracle_hash_bucket` is its DuckDB renderer.

    sha2-256 of the (salted) key string, then the first three hex
    chars combined via their ascii codes. Both halves are chosen for
    bit-identical twins in DuckDB: ``sha2(s, 256) ≡ sha256(s)`` and
    ``ascii ≡ ascii`` (verified in functions/numeric.py's oracle
    conventions); hex-string→int parsing (Spark ``conv``) has no
    DuckDB twin, so the bucket is derived arithmetically from char
    codes instead. 3 hex chars = 4096 equiprobable values — uniform
    to ±2.5% at buckets=100, plenty for split assignment.

    The salt gives independent bucketings (e.g. split assignment vs
    ablation sampling) from the same key.
    """
    h = f"sha2(concat('{salt}', CAST({key} AS STRING)), 256)"
    return (
        f"((ascii(substring({h}, 1, 1)) * 31"
        f" + ascii(substring({h}, 2, 1))) * 31"
        f" + ascii(substring({h}, 3, 1))) % {buckets}"
    )


def oracle_hash_bucket(key: str, buckets: int = 100, salt: str = "") -> str:
    """DuckDB twin of :func:`hash_bucket_sql`."""
    h = f"sha256(concat('{salt}', CAST({key} AS VARCHAR)))"
    return (
        f"((ascii(({h})[1:1])*31 + ascii(({h})[2:2]))*31 "
        f"+ ascii(({h})[3:3])) % {buckets}"
    )


def _split_sql(bucket: str) -> str:
    """The train/val/test ``split`` column of a bucket expression, in
    SQL both engines parse."""
    return (
        f"CASE WHEN {bucket} < {TRAIN_CUT} THEN 'train'"
        f" WHEN {bucket} < {VAL_CUT} THEN 'val'"
        " ELSE 'test' END AS split"
    )


@register(
    "q_sample_split",
    oracle=f"""
        SELECT doc_id, lang,
               {oracle_hash_bucket('doc_id')} AS bucket,
               {_split_sql(oracle_hash_bucket('doc_id'))},
               CASE WHEN {oracle_hash_bucket('doc_id', 10, 'ablate:')} = 0
                    THEN 1 ELSE 0 END AS in_ablation
        FROM documents
    """,
    doc="Deterministic hash-bucket train/val/test split + 10% ablation flag.",
)
def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-keyed dataset splitting: every document lands in
    train/val/test by a hash of its id (80/10/10), plus an
    independent 10% ablation-sample flag from a salted second hash.

    This is the split discipline large corpora need: assignment is a
    pure function of the document id, so it is identical on every
    executor, every run, and every subset of the data — no
    ``rand()`` (unstable under retries), no row position (unstable
    under repartitioning). Map-only, no shuffle; at 100 TB this runs
    at scan speed and composes under pushdown (filtering one split
    prunes nothing at the scan, but downstream operators see a
    consistent ~80% sample forever).
    """
    b = hash_bucket_sql("doc_id")
    return tables(spark, sf_dir).documents.selectExpr(
        "doc_id",
        "lang",
        f"{b} AS bucket",
        _split_sql(b),
        f"CASE WHEN {hash_bucket_sql('doc_id', 10, 'ablate:')} = 0"
        " THEN 1 ELSE 0 END AS in_ablation",
    )


PACK_BUDGET = 1024  # context-window token budget per packed sequence
PACK_SHARDS = 8  # independent packing streams; scale with the cluster


@register(
    "q_pack_sequences",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   doc_id % {PACK_SHARDS} AS shard,
                   len(regexp_extract_all(lower(text), '{BPE_TOKEN_RE}')) AS ntok
            FROM documents
        ), placed AS (
            SELECT shard, doc_id, ntok,
                   CAST(floor(
                       (sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) - ntok)
                       / {PACK_BUDGET}) AS BIGINT) AS bin
            FROM toks
        )
        SELECT shard, bin,
               count(*) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS bin_tokens,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM placed GROUP BY shard, bin
    """,
    doc="Token-budget sequence packing: concat-and-chunk bin assignment per shard.",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: documents are concatenated
    in id order within a shard and chunked every PACK_BUDGET tokens;
    a document's bin is the context window its *starting offset*
    falls in (concat-and-chunk semantics — the standard pretraining
    packing, where a document may straddle a boundary).

    Shape: token counts are a map-only regexp over the scan; the
    running offset is one window sum per shard (ROWS frame, not
    RANGE — stated explicitly on both engines since their defaults
    differ); the bin summary reuses the shard partitioning, so the
    whole thing is a single shuffle keyed by shard. Shards bound the
    sequential dependency: packing is embarrassingly parallel across
    PACK_SHARDS streams, and at 100 TB you raise PACK_SHARDS to the
    write parallelism you want — bins are per-shard, so quality is
    unaffected.
    """
    t = tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.regexp_count(F.lower("text"), F.lit(BPE_TOKEN_RE)).alias("ntok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = toks.withColumn(
        "bin",
        F.floor((F.sum("ntok").over(w) - F.col("ntok")) / PACK_BUDGET),
    )
    return placed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


MIN_TOKENS = 25  # quality floor: drop short docs (integer compare — exact)


def _pipeline_oracle() -> str:
    # dedup's constants are imported lazily here (not at module top)
    # purely to keep this module's header focused; there is no cycle —
    # dedup never imports curation.
    from mapreduceapp_spark.operators.dedup import ORACLE_JACCARD_PAIR_CTES

    return f"""
        WITH {ORACLE_JACCARD_PAIR_CTES},
        flt AS MATERIALIZED (
            SELECT doc_id, lang, ntok FROM (
                SELECT doc_id, lang, len({oracle_tokens('text')}) AS ntok
                FROM documents
            ) WHERE ntok >= {MIN_TOKENS}
        ),
        kept AS (
            SELECT f.* FROM flt f
            WHERE NOT EXISTS (
                SELECT 1 FROM jpairs p
                JOIN flt fa ON fa.doc_id = p.doc_a
                WHERE p.doc_b = f.doc_id
            )
        )
        SELECT lang, {_split_sql(oracle_hash_bucket('doc_id'))},
               count(*) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS total_tokens
        FROM kept
        GROUP BY lang, split
    """


@register(
    "q_curation_pipeline",
    oracle=_pipeline_oracle(),
    doc="End-to-end curation: quality filter -> near-dup drop -> split -> stats.",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation story as ONE declared plan: token-count
    quality floor, near-duplicate removal (drop any doc with an
    earlier surviving near-dup), deterministic split assignment, and
    per-(lang, split) corpus accounting.

    Composition, not re-implementation: near-dup pairs come from the
    LSH detection path (``q_minhash_neardup`` — proven equal to exact
    Jaccard output), the split from :func:`hash_bucket_sql`, token counts
    from the same word tokenizer the quality UDF uses. The oracle
    recomputes every stage in SQL, so the *composition* is
    hash-checked too, not just the pieces.

    Plan shape at 100 TB: quality metrics are map-only over the scan;
    the near-dup drop is a broadcast anti-join (the pair list is
    ~duplicate-rate × N, orders of magnitude smaller than the
    corpus); split assignment is map-only; the final rollup is one
    partial-agg shuffle on (lang, split). The dominant cost is the
    LSH detection it composes — everything this query *adds* is scan
    or broadcast work.
    """
    from mapreduceapp_spark.operators.dedup import minhash_pairs

    t = tables(spark, sf_dir)
    filtered = t.documents.selectExpr(
        "doc_id", "lang", f"{token_count_sql('text')} AS ntok"
    ).filter(f"ntok >= {MIN_TOKENS}")

    # the pair slot q_dedup_clusters reads: whichever runs first
    # materializes the LSH pair detection; the other reads it
    pairs = minhash_pairs(spark, sf_dir)
    # a pair only kills doc_b if its earlier endpoint survived quality
    live_a = filtered.selectExpr("doc_id AS doc_a")
    drop = (
        pairs.join(live_a, "doc_a")
        .selectExpr("doc_b AS doc_id")
        .distinct()
    )
    kept = filtered.join(F.broadcast(drop), "doc_id", "left_anti")

    return (
        kept.selectExpr("*", _split_sql(hash_bucket_sql("doc_id")))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("total_tokens"),
        )
    )


SAMPLE_K = 20  # exactly-k docs kept per stratum


@register(
    "q_stratified_sample",
    oracle=f"""
        SELECT lang, doc_id, n_chars FROM (
            SELECT lang, doc_id, n_chars,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn <= {SAMPLE_K}
    """,
    doc="Exactly-k-per-stratum uniform sample via hash-order top-k.",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size stratified sampling: exactly SAMPLE_K docs per
    language, the k smallest by a sha256 hash of the id — i.e. a
    uniform random sample whose randomness is a pure function of the
    data, so it is reproducible across runs, engines, and subsets
    (the distributed, deterministic replacement for reservoir
    sampling's RNG state).

    The hex digest is the order key directly (string compare —
    identical in any engine); doc_id breaks the (impossible in
    practice) tie. One shuffle keyed by stratum. At 100 TB with
    k ≪ stratum size, the refinement is a pre-filter: keep rows with
    digest below an approximate k-th-quantile threshold (a tiny
    sketch pass), then run this exact top-k on the survivors — same
    result, shuffle carries ~k rows per stratum instead of all.
    """
    t = tables(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.sha2(F.col("doc_id").cast("string"), 256), F.asc("doc_id")
    )
    return (
        t.documents.select("lang", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_K)
        .drop("rn")
    )


# Temperature resampling: overall budget = half the corpus, mixture
# weights w_s ∝ cnt_s^α with α = 0.5 — the multilingual/domain
# re-balancing exponent family (α=1 keeps the natural mixture, α=0
# forces uniform; 0.5 is the classic compromise). α is fixed at 0.5
# SPECIFICALLY because cnt^0.5 = sqrt(cnt) is IEEE-correctly-rounded
# in both engines (pow(x, 0.5) is not guaranteed to be), so with
# floor() — which is exact on any double — the integer micro-weight
# needs NO decimal rounding anywhere: the avg_lp tie class (see
# llmprep.UNIGRAM_LP_MICRO) cannot occur by construction.
TEMP_WEIGHT_MICRO = 1_000_000
TEMP_BUDGET_DEN = 2  # sample n_total DIV 2 docs overall


@register(
    "q_temperature_resample",
    oracle=f"""
        WITH counts AS (
            SELECT source, count(*) AS cnt FROM documents GROUP BY source
        ),
        wts AS (
            SELECT source, cnt,
                   CAST(floor(sqrt(cnt::DOUBLE) * {TEMP_WEIGHT_MICRO})
                        AS BIGINT) AS w_micro
            FROM counts
        ),
        tot AS (
            SELECT CAST(sum(w_micro) AS BIGINT) AS w_total,
                   CAST(sum(cnt) AS BIGINT) AS n_total
            FROM wts
        ),
        targets AS (
            SELECT source, cnt,
                   least(cnt,
                         (n_total // {TEMP_BUDGET_DEN}) * w_micro // w_total)
                       AS target_k
            FROM wts, tot
        ),
        ranked AS (
            SELECT d.source, d.doc_id, t.cnt AS n_source, t.target_k,
                   row_number() OVER (
                       PARTITION BY d.source
                       ORDER BY sha256(CAST(d.doc_id AS VARCHAR)), d.doc_id
                   ) AS rn
            FROM documents d JOIN targets t USING (source)
        )
        SELECT source, doc_id, n_source, CAST(target_k AS BIGINT) AS target_k
        FROM ranked WHERE rn <= target_k
    """,
    doc="Temperature (α=0.5) mixture resampling: per-source targets "
    "∝ sqrt(count), deterministic hash-rank selection.",
)
def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture temperature resampling — the re-balancing step of
    multilingual/multi-domain pretraining pipelines: sample sources
    ∝ cnt^α (α = 0.5) so dominant sources shrink and rare ones keep
    representation, under a global budget of half the corpus.

    Determinism: per-source weight = floor(sqrt(cnt)·1e6) — sqrt and
    floor are both exact on identical doubles in every IEEE engine
    (see TEMP_WEIGHT_MICRO note), integer sums/divisions from there,
    and selection is the sha256-hash-rank convention of
    q_stratified_sample — so the kept SET is a pure function of the
    data: stable across runs, engines, partitionings, and backfills.
    The output carries no float column at all.

    Plan: source counts (one shuffle over a handful of keys) → 1-row
    stats crossJoin (the module's broadcast convention) → targets
    broadcast back to the corpus scan → one row_number window per
    source. At 100 TB the window's per-source sort is the cost; the
    same quantile-threshold pre-filter documented on
    q_stratified_sample applies verbatim (keep digest < approximate
    target_k/cnt quantile, then exact-rank the survivors). The
    int64 grid bounds: the binding product is budget · w_micro ≈
    (n/2) · √n · 1e6 < 2^63, i.e. n ≲ 7·10^8 TOTAL docs at this
    grid; a 100 TB corpus rescales TEMP_WEIGHT_MICRO down (one
    decade of grid per 10^(2/3) of corpus), with both engines
    deriving the identical rescaled integers.
    """
    t = tables(spark, sf_dir)
    d = t.documents
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    wts = counts.withColumn(
        "w_micro",
        F.floor(F.sqrt(F.col("cnt").cast("double")) * TEMP_WEIGHT_MICRO),
    )
    tot = wts.agg(
        F.sum("w_micro").alias("w_total"), F.sum("cnt").alias("n_total")
    )
    targets = (
        wts.crossJoin(F.broadcast(tot))
        .withColumn(
            "target_k",
            F.least(
                F.col("cnt"),
                F.expr(
                    f"((n_total DIV {TEMP_BUDGET_DEN}) * w_micro) DIV w_total"
                ),
            ),
        )
        .select("source", F.col("cnt").alias("n_source"), "target_k")
    )
    w = Window.partitionBy("source").orderBy(
        F.sha2(F.col("doc_id").cast("string"), 256), F.asc("doc_id")
    )
    return (
        d.select("source", "doc_id")
        .join(F.broadcast(targets), "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("target_k"))
        .select("source", "doc_id", "n_source", "target_k")
    )


CHUNK_SIZE = 64  # tokens per chunk
CHUNK_STRIDE = 48  # overlap = CHUNK_SIZE - CHUNK_STRIDE = 16 tokens


def _chunk_oracle() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, {oracle_tokens('text')} AS w FROM documents
        )
        SELECT doc_id,
               s // {CHUNK_STRIDE} AS chunk_idx,
               least({CHUNK_SIZE}, len(w) - s) AS n_chunk_tokens,
               array_to_string(w[s + 1 : s + {CHUNK_SIZE}], ' ') AS chunk_text
        FROM toks,
             unnest(generate_series(0, len(w) - 1, {CHUNK_STRIDE})) AS t(s)
        WHERE len(w) > 0
    """


@register(
    "q_chunk_documents",
    oracle=_chunk_oracle(),
    doc="Overlapping fixed-size token chunks per document (context-window prep).",
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into fixed-size token windows with
    overlap (size 64, stride 48) — the chunking pass that precedes
    embedding or context-window training when documents exceed the
    model's window. Sibling of q_pack_sequences (which packs SHORT
    docs up to the window; this splits LONG ones down to it).

    Pure codegen: tokenize once, build the stride-aligned start
    offsets with ``sequence``, slice each window out of the token
    array with ``transform`` + ``slice``, and ``posexplode`` so the
    chunk index falls out of the expansion position. Map-only — no
    shuffle at any scale; the expansion factor is bounded by
    ceil(ntok/stride) rows per doc, each carrying only its own
    window's text.
    """
    d = spread_table(spark, sf_dir, "documents")
    toks = d.selectExpr("doc_id", f"{tokens_sql('text')} AS w").filter(
        F.size("w") > 0
    )
    starts = F.sequence(
        F.lit(0), F.size("w") - 1, F.lit(CHUNK_STRIDE)
    )
    chunks = F.transform(starts, lambda s: F.slice(F.col("w"), s + 1, CHUNK_SIZE))
    return toks.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").alias("n_chunk_tokens"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )


# Rank-based trim cuts (round 6). Quantile INTERPOLATION is an
# engine-specific float recipe ((1-d)a + db vs a + d(b-a) differ in
# the last ulp), so the cuts are defined by exact integer ranks
# instead: the value at ordered row ceil(q·n) — identical arithmetic
# on any engine, hash-stable by construction.
TRIM_LO_Q = 0.05
TRIM_HI_Q = 0.95


# PII scrubbing — regex families chosen to mean the same thing in
# Java regex (Spark) and RE2 (DuckDB): plain character classes, no
# backreferences, no lookaround. Emails are redacted FIRST, then
# phone-like digit runs on the already-email-redacted text (the
# replacement token contains no digits, so the passes compose
# identically on both engines).
PII_EMAIL_RE = r"[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}"
PII_PHONE_RE = r"\+?\d[\d\- ]{7,}\d"
PII_EMAIL_TOKEN = "<EMAIL>"
PII_PHONE_TOKEN = "<PHONE>"


@register(
    "q_pii_scrub",
    oracle=f"""
        WITH scrub AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS n_emails,
                   regexp_replace(text, '{PII_EMAIL_RE}', '{PII_EMAIL_TOKEN}',
                                  'g') AS t1
            FROM documents
        ),
        scrub2 AS (
            SELECT doc_id, n_emails,
                   len(regexp_extract_all(t1, '{PII_PHONE_RE}')) AS n_phones,
                   regexp_replace(t1, '{PII_PHONE_RE}', '{PII_PHONE_TOKEN}',
                                  'g') AS t2
            FROM scrub
        )
        SELECT doc_id,
               CAST(n_emails AS BIGINT) AS n_emails,
               CAST(n_phones AS BIGINT) AS n_phones,
               CAST(length(t2) AS BIGINT) AS clean_len,
               sha256(t2) AS clean_hash
        FROM scrub2
    """,
    doc="PII scrub: count + redact email addresses and phone-like digit "
    "runs per document, emitting the redacted text's length and hash "
    "(curation: the privacy pass every training corpus runs).",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect-and-redact pass for the two highest-volume PII classes.
    Output is (doc_id, n_emails, n_phones, clean_len, clean_hash) —
    the hash stands in for the redacted text so the whole redaction
    (not just the counts) is oracle-checked without shipping document
    bodies through the comparator.

    Map-only: both regex passes run inside the projection, no
    shuffle at all — at 100 TB this is a pure scan whose cost is the
    regex engine, which is exactly where a scrub pass should sit
    (fused with whatever scan feeds the next pipeline stage). The
    synthetic corpus contains no PII (counts are all zero and the
    redacted text equals the input — still a real hash check of the
    identity path); the positive path is pinned by a planted-PII
    fixture in tests/test_curation.py.
    """
    d = spread_table(spark, sf_dir, "documents")
    t1 = F.regexp_replace(F.col("text"), PII_EMAIL_RE, PII_EMAIL_TOKEN)
    scrub = d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL_RE)).alias("n_emails"),
        t1.alias("t1"),
    )
    t2 = F.regexp_replace(F.col("t1"), PII_PHONE_RE, PII_PHONE_TOKEN)
    return scrub.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.regexp_count(F.col("t1"), F.lit(PII_PHONE_RE))
        .cast("long")
        .alias("n_phones"),
        F.length(t2).cast("long").alias("clean_len"),
        F.sha2(t2.cast("binary"), 256).alias("clean_hash"),
    )


@register(
    "q_length_trim",
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, lang, n_chars,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY n_chars, doc_id) AS rn,
                   count(*) OVER (PARTITION BY lang) AS c
            FROM documents
        ),
        cuts AS (
            SELECT lang,
                   min(CASE WHEN rn = greatest(1, ceil({TRIM_LO_Q} * c))
                            THEN n_chars END) AS lo_cut,
                   min(CASE WHEN rn = ceil({TRIM_HI_Q} * c)
                            THEN n_chars END) AS hi_cut
            FROM ranked GROUP BY lang
        )
        SELECT r.doc_id, r.lang, r.n_chars, c.lo_cut, c.hi_cut
        FROM ranked r JOIN cuts c ON c.lang = r.lang
        WHERE r.n_chars >= c.lo_cut AND r.n_chars <= c.hi_cut
    """,
    doc="Per-language length-outlier trim at rank-based p05/p95 cuts "
    "(curation: drop truncated fragments and runaway concatenations).",
)
def q_length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard first-pass curation filter: within each language,
    drop documents below the 5th or above the 95th length percentile
    (truncation artifacts and runaway concatenations respectively).

    Two-pass global-statistic shape, built for scale:

    1. rank documents per language (one shuffle keyed by lang; the
       window sort is the same shuffle's sort order) and pick the
       VALUES at ranks ⌈q·n⌉ — a per-lang aggregate, #langs rows out;
    2. broadcast the tiny cut table back and filter on value.

    The corpus streams twice but shuffles once; the second pass is a
    broadcast-join filter that pushes nothing but a comparison into
    the scan. Cuts are exact order statistics (no interpolation), so
    the filter is bit-stable across engines — see TRIM_LO_Q note.
    """
    d = tables(spark, sf_dir).documents.select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("lang"))
    )
    cuts = ranked.groupBy("lang").agg(
        F.min(
            F.when(
                F.col("rn")
                == F.greatest(F.lit(1), F.ceil(TRIM_LO_Q * F.col("c"))),
                F.col("n_chars"),
            )
        ).alias("lo_cut"),
        F.min(
            F.when(F.col("rn") == F.ceil(TRIM_HI_Q * F.col("c")), F.col("n_chars"))
        ).alias("hi_cut"),
    )
    return (
        ranked.join(F.broadcast(cuts), "lang")
        .filter(
            (F.col("n_chars") >= F.col("lo_cut"))
            & (F.col("n_chars") <= F.col("hi_cut"))
        )
        .select("doc_id", "lang", "n_chars", "lo_cut", "hi_cut")
    )
