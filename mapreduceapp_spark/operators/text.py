"""Text-analysis queries over ``documents`` (SURVEY.md §2 B1/B2/B21, C4).

Reference grounding: the reference's one packaged application is a
character-frequency count (``SampleClient.cpp:32-66`` — map emits
(char, count) per string, reduce sums per char). ``q_charcount`` is
that exact query as a 4-line DataFrame plan; the rest of this module
is the same flatMap→group→aggregate shape at word granularity plus
the text-statistics operators the north star adds.

Scale notes (100 TB):
- explode(split(...)) is a generator inside whole-stage codegen; the
  shuffle that follows carries (token, partial-count) after partial
  aggregation (hash-aggregate map-side combine), so shuffle volume
  is O(distinct tokens per partition), not O(total tokens).
- char/token key spaces are small and uniform → no skew handling
  needed; the inverted index shuffles O(postings) which is the
  output size, i.e. irreducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceapp_spark.functions.text import (
    chars_sql,
    oracle_tokens,
    token_count_sql,
    tokens_sql,
)
from mapreduceapp_spark.plans.registry import register
from mapreduceapp_spark.sources import spread_table, tables


@register(
    "q_charcount",
    oracle="""
        SELECT c, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, '')) AS c FROM documents)
        WHERE c <> ''
        GROUP BY c
    """,
    doc="Flagship: per-character frequency count (reference SampleClient.cpp:32-66).",
)
def q_charcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spread_table(spark, sf_dir, "documents")
        .selectExpr(f"explode({chars_sql('text')}) AS c")
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q_wordcount",
    oracle=f"""
        SELECT w, count(*) AS cnt
        FROM (SELECT unnest({oracle_tokens('text')}) AS w FROM documents)
        GROUP BY w
    """,
    doc="Canonical MapReduce word count at word granularity (B2).",
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spread_table(spark, sf_dir, "documents")
        .selectExpr(f"explode({tokens_sql('text')}) AS w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# Sorted distinct postings per token: q_inverted_index's ground truth,
# registered by q_inverted_index_salted too.
INVERTED_INDEX_ORACLE = f"""
        SELECT w, array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
        FROM (SELECT doc_id, unnest({oracle_tokens('text')}) AS w FROM documents)
        GROUP BY w
    """


@register(
    "q_inverted_index",
    oracle=INVERTED_INDEX_ORACLE,
    doc="Inverted index: token -> sorted distinct posting list (B21).",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical MapReduce query #2 (map emits (word, doc_id); reduce
    concatenates). Spark shape: explode + groupBy + collect_set.

    The posting list is serialized to a comma-joined string so the
    final schema is scalar-only (the harness canonicalizer cannot
    sort/hash top-level array columns); the list semantics — sorted,
    distinct doc_ids per token — are unchanged and fully checked.

    Scale: collect_set keys by token; the posting list for a stopword
    can be huge at 100 TB — a production variant would bucket postings
    (token, bucket) and store segmented lists. Documented tradeoff;
    here tokens are synthetic and bounded.
    """
    postings = F.sort_array(F.collect_set("doc_id"))
    return (
        spread_table(spark, sf_dir, "documents")
        .selectExpr("doc_id", f"explode({tokens_sql('text')}) AS w")
        .groupBy("w")
        .agg(
            F.array_join(
                F.transform(postings, lambda x: x.cast("string")), ","
            ).alias("postings")
        )
    )


@register(
    "q_inverted_index_salted",
    # same result as q_inverted_index; only the Spark-side aggregation
    # strategy differs
    oracle=INVERTED_INDEX_ORACLE,
    doc="Inverted index via two-phase salted aggregation — the skew-safe "
    "build for Zipf token distributions (B21 scale variant).",
)
def q_inverted_index_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-hardened twin of :func:`q_inverted_index`, and the
    production consumer of ``functions/skew.py`` (VERDICT r6 ask #5 —
    the helpers were previously library-only).

    Why salting here and not on the count queries: a hash-aggregate
    ``count`` already partial-combines map-side, so a hot key ships
    one row per map partition regardless of skew — AQE plus partial
    agg covers it (documented in SCALE.md). ``collect_set`` is
    HOLISTIC: every (stopword, doc_id) row must reach the reducer
    that owns the stopword, so under a Zipf token distribution one
    reducer processes O(corpus) rows while the rest idle — the
    classic straggler. The two-phase fix (``salted_agg``):

    1. group by (token, salt=hash(row)%16) — the hot token's postings
       build as 16 independent partial sets on 16 reducers;
    2. group by token, merging the ≤16 partial sets per token
       (flatten + distinct + sort).

    Phase 2 still assembles the full posting list on one row — that
    is the OUTPUT, irreducible for any strategy — but it merges 16
    pre-built arrays instead of re-processing O(corpus) input rows.
    Result and oracle are identical to the unsalted query (asserted
    row-for-row in tests/test_text.py); only the shuffle layout
    changes.
    """
    from mapreduceapp_spark.functions.skew import salted_agg

    toks = spread_table(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"explode({tokens_sql('text')}) AS w"
    )
    merged = salted_agg(
        toks,
        ["w"],
        partial_aggs=lambda: [F.collect_set("doc_id").alias("ps")],
        merge_aggs=lambda: [
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("ps")))
            ).alias("postings_arr")
        ],
    )
    return merged.select(
        "w",
        F.array_join(
            F.transform("postings_arr", lambda x: x.cast("string")), ","
        ).alias("postings"),
    )


# Segmented posting lists (q_inverted_index_segmented): target ids per
# segment and the hard per-row bound asserted in tests. nb =
# ceil(df / SEG_TARGET) buckets gives an EXPECTED segment size of
# SEG_TARGET; hash placement has binomial spread around that, so the
# hard output bound carries 2x slack (Chernoff: a segment reaching 2x
# its 64-expected size is ~e^-12 per bucket — and on fixed test data
# the max is deterministic and asserted outright).
SEG_TARGET = 64
SEG_BOUND = 2 * SEG_TARGET

# Cross-engine doc-id hash for bucket placement: Knuth multiplicative
# on the low 31 bits, all in non-negative int64 arithmetic so Spark
# and DuckDB compute bit-identical buckets ((2^31-1) * 2654435761 <
# 2^63 — no overflow on either engine). Low 31 bits carry all the
# entropy of sequential ids up to 2G docs; a deployment with wider
# ids would fold the high bits in first (one extra xor, same range
# argument).
_SEG_HASH_MOD = 2_147_483_648  # 2^31
_SEG_HASH_MULT = 2_654_435_761  # Knuth's 2^32 / phi
_SEG_HASH_RANGE = 4_294_967_296  # 2^32


@register(
    "q_inverted_index_segmented",
    oracle=f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, unnest({oracle_tokens('text')}) AS w
            FROM documents
        ),
        df AS (SELECT w, count(*) AS df FROM toks GROUP BY w),
        seg AS (
            SELECT toks.w,
                   CAST((((toks.doc_id % {_SEG_HASH_MOD}) * {_SEG_HASH_MULT})
                         % {_SEG_HASH_RANGE})
                        % CAST(ceil(df.df / {SEG_TARGET}.0) AS BIGINT) AS INT)
                       AS bucket,
                   toks.doc_id
            FROM toks JOIN df USING (w)
        )
        SELECT w, bucket,
               array_to_string(list_sort(list(doc_id)), ',') AS postings
        FROM seg
        GROUP BY w, bucket
    """,
    doc="Inverted index with df-relative segmented posting lists — "
    "bounded output rows for stopword tokens (B21 production variant).",
)
def q_inverted_index_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production posting-list layout q_inverted_index's docstring
    promises: postings stored as (token, bucket, sorted-ids) with
    ``bucket = hash31(doc_id) % ceil(df / SEG_TARGET)``, so a
    stopword's postings split across ~df/64 segments of ~64 ids each
    instead of one corpus-sized row (VERDICT r7 ask #3 — the last
    unbounded-row output on the text surface).

    Plan shape, 100 TB posture — no holistic single-reducer step
    anywhere, unlike a rank-chunked layout (row_number over
    partition by token) which would rebuild the one-reducer-per-
    stopword straggler this variant exists to kill:

    1. distinct (doc_id, token) pairs — one shuffle, partial-combining;
    2. df per token — vocabulary-keyed aggregate (map-side combine,
       uniform);
    3. df joined back on token — a vocabulary-sized dimension against
       the pair stream; AQE broadcasts it below threshold, and at web
       scale it is still vocab-vs-trillions, so either strategy beats
       a window;
    4. group by (token, bucket) — a hot token's postings build on
       ~df/64 DIFFERENT reducers, each doing O(SEG_TARGET) work, and
       every output row is bounded (~e^-12 tail past SEG_BOUND).

    The bucket expression is pure non-negative int64 arithmetic so
    the oracle computes bit-identical placement (no engine hash
    involved); ids are non-negative by the data contract.
    """
    toks = (
        spread_table(spark, sf_dir, "documents")
        .selectExpr("doc_id", f"explode({tokens_sql('text')}) AS w")
        .distinct()
    )
    df_tab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    seg = toks.join(df_tab, "w").select(
        "w",
        (
            (
                (F.col("doc_id") % _SEG_HASH_MOD) * _SEG_HASH_MULT
                % _SEG_HASH_RANGE
            )
            % F.ceil(F.col("df") / F.lit(float(SEG_TARGET)))
        )
        .cast("int")
        .alias("bucket"),
        "doc_id",
    )
    return (
        seg.groupBy("w", "bucket")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )


@register(
    "q_text_stats",
    oracle=f"""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(len({oracle_tokens('text')})) AS BIGINT) AS total_tokens,
               round(avg(length(text)), 4) AS avg_chars,
               max(length(text)) AS max_chars
        FROM documents
        GROUP BY lang
    """,
    doc="Text statistics per language: token counts, length stats (C4).",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics — the text-analysis profile a
    training-data pipeline runs first.

    All JVM-side; one shuffle keyed by lang (tiny cardinality), with
    map-side partial aggregation so the shuffle carries one row per
    (partition, lang).
    """
    return (
        spread_table(spark, sf_dir, "documents").selectExpr(
            "lang", f"{token_count_sql('text')} AS ntok", "length(text) AS nchar"
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("total_tokens"),
            F.round(F.avg("nchar"), 4).alias("avg_chars"),
            F.max("nchar").alias("max_chars"),
        )
    )


@register(
    "q_text_normalize",
    oracle="""
        WITH norm AS (
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g')) AS clean
            FROM documents
        )
        SELECT doc_id,
               length(clean) AS clean_len,
               CASE WHEN clean = '' THEN 0
                    ELSE len(string_split(clean, ' ')) END AS n_tokens,
               md5(clean) AS norm_md5
        FROM norm
    """,
    doc="Text normalization: lowercase, strip non-alphanumerics, collapse "
    "whitespace — with an md5 identity proof per doc (C4).",
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical pre-tokenization cleanup of a curation pipeline:
    lowercase, map every non-[a-z0-9 ] run to a single space,
    collapse space runs, trim. Emitting md5(clean) makes the oracle
    check an *identity* proof — both engines must produce the same
    normalized BYTES, not just the same counts.

    Map-only codegen (two regexp_replace + trim per row, no shuffle
    at all), so it scales like the scan. Regexes avoid lookarounds
    and posix classes so Java regex (Spark) and RE2 (DuckDB) agree;
    Spark's regexp_replace is global by default, DuckDB's needs the
    explicit 'g' flag.
    """
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]+", " "),
            " +",
            " ",
        )
    )
    return spread_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.length(clean).alias("clean_len"),
        F.when(clean == "", F.lit(0))
        .otherwise(F.size(F.split(clean, " ")))
        .alias("n_tokens"),
        F.md5(clean.cast("binary")).alias("norm_md5"),
    )


# BPE-ish pre-tokenizer: letter runs | digit runs | punctuation runs,
# the shape GPT-style byte-pair encoders split on before merging.
# Chosen to behave identically under Java regex (Spark) and RE2
# (DuckDB): no lookarounds, no posix classes.
BPE_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


@register(
    "q_token_count",
    oracle=f"""
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '{BPE_TOKEN_RE}')) AS n_bpe_tokens,
               len(list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '')) AS n_ws_tokens,
               len(regexp_extract_all(lower(text), '[0-9]+')) AS n_number_runs,
               len(regexp_extract_all(lower(text), '[^a-z0-9\\s]+')) AS n_punct_runs
        FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish regex pre-tokens (C4).",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting for training-data budgeting: whitespace tokens
    (the cheap estimate) vs BPE-style pre-tokens (the closer-to-real
    estimate), plus digit/punct run counts for quality filters.

    Map-only regexp_count in codegen — scan-speed at 100 TB; the
    regex is deliberately lookaround-free so Java regex and RE2
    tokenize byte-identically.
    """
    low = F.lower(F.col("text"))
    return spread_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_count(low, F.lit(BPE_TOKEN_RE)).alias("n_bpe_tokens"),
        F.size(
            F.filter(F.split(low, r"\s+"), lambda x: x != F.lit(""))
        ).alias("n_ws_tokens"),
        F.regexp_count(low, F.lit("[0-9]+")).alias("n_number_runs"),
        F.regexp_count(low, F.lit(r"[^a-z0-9\s]+")).alias("n_punct_runs"),
    )


FP_MOD = 1_000_000_007
FP_BASE = 31


@register(
    "q_fingerprint",
    oracle=f"""
        SELECT doc_id,
               list_reduce(
                   list_prepend(0::BIGINT, list_transform(string_split(text, ''),
                                                          c -> ascii(c)::BIGINT)),
                   (acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD}) AS fp
        FROM documents
    """,
    doc="Document fingerprint: polynomial rolling hash over characters.",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash fp = fold(acc·31 + codepoint mod p) —
    the classic content fingerprint for incremental dedup.

    Pure higher-order-function fold (``aggregate``) in codegen: no
    shuffle at all, a map-only pass that at 100 TB runs at scan
    speed. The modulus keeps every intermediate < 2^35, so identical
    int64 math in any engine (overflow semantics never triggered).
    """
    fp = F.aggregate(
        F.expr(chars_sql("text")),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FP_BASE + F.ascii(c)) % FP_MOD,
    )
    return spread_table(spark, sf_dir, "documents").select("doc_id", fp.alias("fp"))


# Winnowing (Schleimer, Wilkerson, Aiken — SIGMOD 2003 "Winnowing:
# Local Algorithms for Document Fingerprinting", the MOSS algorithm):
# K-char gram hashes, minimum per sliding window of W grams. The
# guarantee: any shared substring of length >= K + W - 1 chars yields
# at least one shared selected fingerprint, at ~2/(W+1) the storage of
# all-grams — position-robust where q_duplicate_passages' token
# windows are exact-token-aligned, and substring-level where the
# shingle-Jaccard family is whole-document.
# Constants sized against the corpus, not MOSS's source-code defaults:
# the synthetic shared vocabulary makes short runs ubiquitous (K=8/W=4
# matched 92k of 170k possible pairs at sf0.01 — noise, not dedup).
# K=16/W=8 guarantees any shared run >= 23 chars, the df cap keeps only
# fingerprints rare enough to be identifying, and 4 shared selections
# separate planted duplicates (53 pairs at sf0.01) from phrase echoes.
WINNOW_K = 16       # gram length (chars)
WINNOW_W = 8        # winnowing window (grams): detects runs >= 23 chars
WINNOW_DF_CAP = 8   # fingerprints in more docs are boilerplate: drop
WINNOW_MIN_SHARED = 4


# Regime gate for the winnowing char-gram kernel — same grammar as
# similarity.ANN_GEMM_MIN_ROWS. The codegen HOF form re-slices a
# K=16 array per gram position (O(len·K) fold steps + a per-position
# array alloc): ~3 s warm at sf0.1's 6k docs / 2M chars and ~7 s at
# the sf1 rehearsal's 60k docs / 19.6M chars. The batched kernel
# concatenates each Arrow batch's code points into ONE array and
# computes every doc's rolling hashes in K shifted multiply-adds +
# W-1 sliding minimums over the concatenation (document boundaries
# masked): 0.34 s at sf0.1, 0.45 s at sf1 warm — it wins from ~1k
# docs up; the threshold keeps micro-frames (tests, streaming
# micro-batches, which pass n_docs=None) on codegen where the
# Python-worker round-trip isn't worth starting.
WINNOW_GEMM_MIN_DOCS = 4096


def winnow_fingerprints(docs: DataFrame, n_docs: int | None = None) -> DataFrame:
    """(doc_id, fp) — each document's winnowing-selected fingerprints
    (distinct per doc).

    Two regimes (gate: ``WINNOW_GEMM_MIN_DOCS`` against the caller's
    footer-derived doc count; None → the codegen plan): array-level
    HOFs — gram hashes and window minima inside whole-stage codegen,
    the only explode emitting the ~2/(W+1)-density selected set — or,
    at corpus scale, the batched Arrow rolling-hash kernel
    (:func:`_winnow_fps_gemm`), bit-identical by construction and
    pinned over ASCII + non-BMP unicode + short/empty docs by
    test_winnow_fps_gemm_equals_codegen."""
    if n_docs is not None and n_docs >= WINNOW_GEMM_MIN_DOCS:
        return _winnow_fps_gemm(docs)
    codes = F.transform(F.expr(chars_sql("text")), lambda c: F.ascii(c).cast("long"))
    d = docs.select("doc_id", codes.alias("codes"))
    n_grams = F.size(F.col("codes")) - (WINNOW_K - 1)
    gram_hash = lambda i: F.aggregate(  # noqa: E731
        F.slice(F.col("codes"), i + 1, WINNOW_K),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * FP_BASE + x) % FP_MOD,
    )
    # sequence(a, b) DESCENDS when a > b — guard short docs explicitly
    grams = F.when(
        n_grams >= 1,
        F.transform(F.sequence(F.lit(0), n_grams - 1), gram_hash),
    ).otherwise(F.array().cast("array<long>"))
    d = d.select("doc_id", grams.alias("grams"))
    n_wins = F.size(F.col("grams")) - (WINNOW_W - 1)
    mins = F.when(
        n_wins >= 1,
        F.transform(
            F.sequence(F.lit(0), n_wins - 1),
            lambda j: F.array_min(F.slice(F.col("grams"), j + 1, WINNOW_W)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return d.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fp")
    )


def _winnow_fps_gemm(docs: DataFrame) -> DataFrame:
    """Corpus-scale winnowing derivation — see :func:`winnow_fingerprints`.

    Per Arrow batch, every document's code points concatenate into
    ONE int64 array and the whole batch is processed in a handful of
    vectorized passes — no per-document Python-call overhead (the
    naive per-doc numpy form pays ~150 µs × call on ~300-char docs
    and loses to codegen outright):

    - code points via utf-32 decode — verified identical to Spark's
      split('') + ascii() on non-BMP input (both are code-point-wise;
      a utf-16 decode would diverge on surrogate pairs);
    - gram hash h_p = (Σ_j c_{p+j}·B^{K-1-j}) mod M ≡ the HOF fold's
      (acc·B + c) % M by ring homomorphism, computed as K shifted
      multiply-adds with ONE trailing mod — exact in int64 because
      c < 2^21 (max code point), B^j mod M < 2^30, so each term
      < 2^51 and the K=16-term sum < 2^55;
    - window minima as W−1 in-place np.minimum passes (int64,
      tie-free by value, same as the HOF array_min);
    - positions whose K-gram or W-window crosses a document boundary
      are masked out via the cumulative-length table — grams never
      mix documents;
    - per-doc distinct via one np.unique over (doc_index << 31) | fp
      (fp < FP_MOD < 2^31; batch doc index < 2^32 headroom).
    """
    import numpy as np
    import pandas as pd

    wpow = np.array(
        [pow(FP_BASE, WINNOW_K - 1 - j, FP_MOD) for j in range(WINNOW_K)],
        dtype=np.int64,
    )

    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            texts = pdf["text"].tolist()
            ids = pdf["doc_id"].to_numpy(np.int64)
            lens = np.array(
                [len(t) if t else 0 for t in texts], dtype=np.int64
            )
            buf = "".join(t or "" for t in texts)
            if not buf:
                continue
            c = np.frombuffer(
                buf.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            starts = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=starts[1:])
            ng = len(c) - WINNOW_K + 1
            if ng < 1:
                continue
            h = np.zeros(ng, dtype=np.int64)
            for j in range(WINNOW_K):
                h += c[j : j + ng] * wpow[j]
            h %= FP_MOD
            did = np.searchsorted(starts, np.arange(ng), side="right") - 1
            gram_valid = np.arange(ng) + WINNOW_K <= starts[did + 1]
            nw = ng - WINNOW_W + 1
            if nw < 1:
                continue
            gm = h[:nw].copy()
            for j in range(1, WINNOW_W):
                np.minimum(gm, h[j : j + nw], out=gm)
            win_valid = (
                gram_valid[:nw]
                & gram_valid[WINNOW_W - 1 :]
                & (did[:nw] == did[WINNOW_W - 1 :])
            )
            key = did[:nw][win_valid] * (1 << 31) + gm[win_valid]
            uk = np.unique(key)
            yield pd.DataFrame(
                {
                    "doc_id": ids[(uk >> 31).astype(np.int64)],
                    "fp": uk & ((1 << 31) - 1),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        part, "doc_id long, fp long"
    )


def winnow_fingerprint_pairs(
    spark: SparkSession,
    sf_dir: str,
    *,
    cap: int = WINNOW_DF_CAP,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """Doc pairs sharing >= ``min_shared`` winnowing-selected
    fingerprints (df-capped at ``cap``). Parameterized so tests can
    plant a tiny cap; the registered query binds the constants.

    Plan shape: the gram hashes and window minima are ARRAY-level
    higher-order functions — the per-document work stays inside
    whole-stage codegen with zero explode until the (doc_id, fp)
    fingerprint rows, which are ~2/(W+1) of the gram count. Those
    thin int64 rows are the only thing shuffled: once for the df cap
    window and the self-join (same hash partitioning serves both, the
    q_duplicate_passages convention), then a pair-keyed count. The
    staged slot keeps the self-join's two branches from re-running
    the corpus scan + gram derivation. The df cap is what bounds the
    join on a boilerplate-heavy corpus — an uncapped hot fingerprint
    is df² pair fan-out, quadratic in corpus size.

    Integer discipline: gram hash = the q_fingerprint rolling hash
    over each K-char slice (every intermediate < 2^35 — identical
    int64 math in both engines); window min of int64 is tie-free by
    value.
    """
    from mapreduceapp_spark.plans.staging import slot
    from mapreduceapp_spark.sources.parquet import table_row_count
    from pyspark.sql import Window

    fps = slot(
        spark,
        "winnow_fps",
        f"{sf_dir}|{cap}",  # cap changes the staged plan (tests pin tiny caps)
        lambda: winnow_fingerprints(
            spread_table(spark, sf_dir, "documents"),
            n_docs=table_row_count(spark, sf_dir, "documents"),
        )
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("df") <= cap)
        .drop("df"),
    )
    return (
        fps.alias("a")
        .join(fps.alias("b"), ["fp"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# q_winnowing's ground truth, shared verbatim by q_winnowing_indexed
# (winnow_index.py).
WINNOWING_ORACLE = f"""
        WITH pos AS MATERIALIZED (
            -- scalar generate_series (list form): the table-function
            -- form cannot correlate with length(text)
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - {WINNOW_K - 1}))
                       AS i
            FROM documents
            WHERE length(text) >= {WINNOW_K}
        ),
        grams AS MATERIALIZED (
            SELECT doc_id, i,
                   list_reduce(
                       list_prepend(0::BIGINT, list_transform(
                           string_split(substr(text, i, {WINNOW_K}), ''),
                           c -> ascii(c)::BIGINT)),
                       (acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD}) AS h
            FROM pos
        ),
        mins AS MATERIALIZED (
            SELECT DISTINCT doc_id, fp FROM (
                SELECT doc_id,
                       min(h) OVER w AS fp,
                       count(*) OVER w AS wn
                FROM grams
                WINDOW w AS (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN CURRENT ROW
                             AND {WINNOW_W - 1} FOLLOWING)
            ) WHERE wn = {WINNOW_W}
        ),
        capped AS MATERIALIZED (
            SELECT doc_id, fp FROM (
                SELECT doc_id, fp,
                       count(*) OVER (PARTITION BY fp) AS df
                FROM mins
            ) WHERE df <= {WINNOW_DF_CAP}
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS shared_fps
        FROM capped a JOIN capped b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {WINNOW_MIN_SHARED}
    """


@register(
    "q_winnowing",
    oracle=WINNOWING_ORACLE,
    doc=f"Winnowing (MOSS) fingerprint dedup: window-min of rolling "
    f"k-gram hashes; doc pairs sharing >={WINNOW_MIN_SHARED} selected "
    f"fingerprints (substring-level, position-robust; df-capped).",
)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint match — the substring-level member of
    the C2 near-dup family: guarantees detection of any shared run
    >= WINNOW_K + WINNOW_W - 1 chars while storing ~2/(W+1) of the
    gram hashes, the published density bound."""
    return winnow_fingerprint_pairs(spark, sf_dir)


# Marker-token lists per language for the lang-id heuristic. The
# driver's corpus is synthetic with a shared vocabulary, so this
# predictably leans 'en' — the operator's value is the deterministic,
# oracle-checked classification plumbing (argmax + stable tie-break),
# which is exactly what a real stopword-profile classifier needs.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht"),
    "en": ("the", "a", "of", "is", "and"),
    "es": ("el", "los", "que", "y", "una"),
    "fr": ("le", "les", "des", "et", "une"),
    "zh": ("shi", "bu", "le", "wo", "zhe"),
}


@register(
    "q_lang_id",
    oracle="""
        WITH scored AS (
            SELECT doc_id, lang AS actual_lang,
                   {scores}
            FROM (SELECT doc_id, lang, {tk} AS tk FROM documents)
        )
        SELECT doc_id, actual_lang,
               CASE {argmax} END AS pred_lang,
               greatest({score_cols}) AS best_score
        FROM scored
    """.format(
        tk=oracle_tokens("text"),
        scores=", ".join(
            f"len(list_filter(tk, x -> x IN {m!r})) AS s_{lang}"
            for lang, m in sorted(LANG_MARKERS.items())
        ),
        argmax=" ".join(
            f"WHEN s_{lang} = greatest({', '.join('s_' + l for l in sorted(LANG_MARKERS))}) "
            f"THEN '{lang}'"
            for lang in sorted(LANG_MARKERS)
        ),
        score_cols=", ".join(f"s_{lang}" for lang in sorted(LANG_MARKERS)),
    ),
    doc="Language-ID: marker-token scoring with argmax + alphabetical tie-break.",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword-profile language identification.

    score(lang) = marker-token hits (with multiplicity) via a
    codegen'd ``filter`` over the token array; prediction = argmax
    with alphabetical tie-break (a deterministic total order, so the
    SQL CASE chain and the Spark ``when`` chain agree exactly).
    Map-only — no shuffle; at 100 TB this runs at scan speed.
    """
    langs = sorted(LANG_MARKERS)
    scores = [
        f"size(filter(tk, x -> x IN ("
        + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        + f"))) AS s_{lang}"
        for lang in langs
    ]
    scored = (
        spread_table(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id", "lang AS actual_lang", f"{tokens_sql('text')} AS tk"
        )
        .selectExpr("doc_id", "actual_lang", *scores)
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pred = (
        "CASE "
        + " ".join(
            f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in langs
        )
        + " END"
    )
    return scored.selectExpr(
        "doc_id",
        "actual_lang",
        f"{pred} AS pred_lang",
        f"{best} AS best_score",
    )


@register(
    "q_vocab_stats",
    oracle=f"""
        WITH toks AS (
            SELECT lang, unnest({oracle_tokens('text')}) AS tok
            FROM documents
        ),
        tc AS (
            SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY lang, tok
        ),
        v AS (
            SELECT lang,
                   count(*) AS vocab,
                   CAST(sum(cnt) AS BIGINT) AS total_tokens,
                   count(*) FILTER (cnt = 1) AS hapax
            FROM tc GROUP BY lang
        ),
        d AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
        SELECT d.lang, n_docs, vocab, hapax, total_tokens,
               vocab / total_tokens AS ttr
        FROM d JOIN v USING (lang)
    """,
    doc="Per-language vocabulary statistics: size, hapax count, type-token ratio.",
)
def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile per language — the lexical-diversity
    numbers (vocabulary size, hapax legomena, type-token ratio) a
    data-quality dashboard reads before mixing corpora.

    Scale shape: explode → groupBy(lang, tok) with map-side partial
    aggregation (zipfian head absorbed by the combiner, same argument
    as q_ngram_counts), then a per-lang rollup of the already-small
    distinct-token table and a broadcast join against the per-lang
    doc counts (one row per language). No token ever crosses the
    wire more than once, pre-aggregated. The type-token ratio is a
    single bigint/bigint IEEE division — deterministic across
    engines, no rounding step to disagree on.
    """
    d = spread_table(spark, sf_dir, "documents")
    tc = (
        d.selectExpr("lang", f"explode({tokens_sql('text')}) AS tok")
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    v = tc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("cnt").alias("total_tokens"),
        F.count(F.when(F.col("cnt") == 1, 1)).alias("hapax"),
    )
    docs = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return docs.join(v, "lang").select(
        "lang",
        "n_docs",
        "vocab",
        "hapax",
        "total_tokens",
        (F.col("vocab") / F.col("total_tokens")).alias("ttr"),
    )


FUZZY_MAX_DIST = 2


def _del1(col_name: str) -> "F.Column":
    """All single-character deletions of a string column (SQL lambda,
    pure codegen)."""
    return F.expr(
        f"transform(sequence(1, length({col_name})), "
        f"i -> concat(substr({col_name}, 1, i-1), substr({col_name}, i+1)))"
    )


@register(
    "q_fuzzy_match",
    oracle=f"""
        WITH d AS (SELECT DISTINCT p_name AS nm FROM part)
        SELECT a.nm AS name_a, b.nm AS name_b,
               levenshtein(a.nm, b.nm) AS dist
        FROM d a JOIN d b
          ON a.nm < b.nm AND levenshtein(a.nm, b.nm) <= {FUZZY_MAX_DIST}
    """,
    doc="Fuzzy self-join on part names (edit distance <= 2) via deletion-neighborhood blocking.",
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance join without the O(D²) cross product — the
    FastSS construction: if levenshtein(a, b) ≤ k then deleting at
    most k characters from each side can align them (substitutions
    delete on both sides, insertions on one), so the ≤k-deletion
    neighborhoods of a and b intersect. Candidates = name pairs
    sharing ANY deletion variant (an equi-join on the variant
    string); the exact levenshtein filter then removes the false
    positives — a superset-then-verify pattern, provably complete.

    Scale shape: the join runs over the DISTINCT name dictionary (one
    aggregation over the corpus — the only part that sees N rows), so
    the neighborhood explosion (1 + L + L·(L−1)/2 variants per name,
    ~50 for these names) applies to dictionary entries, not rows.
    Per-variant fan-out is names-per-variant², naturally small for
    text dictionaries (a variant key is nearly as specific as the
    name); nothing is ever all-pairs.
    """
    d = tables(spark, sf_dir).part.select(
        F.col("p_name").alias("nm")
    ).distinct()
    v0 = d.select("nm", F.col("nm").alias("v"))
    d1 = d.select("nm", F.explode(_del1("nm")).alias("v"))
    d2 = d1.select("nm", F.explode(_del1("v")).alias("v"))
    variants = v0.unionByName(d1).unionByName(d2).distinct()
    cand = (
        variants.alias("a")
        .join(variants.alias("b"), "v")
        .select(F.col("a.nm").alias("name_a"), F.col("b.nm").alias("name_b"))
        .filter(F.col("name_a") < F.col("name_b"))
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
    )


# Decontamination probe split, shared with llmprep's q_contamination:
# every 7th doc plays the held-out benchmark, everything else is the
# training corpus checked against it. (Chosen so the overlap set is
# non-empty at every test SF — an empty result would make the oracle
# hash check vacuous.)
PROBE_MOD = 7


# Winnowing-based decontamination: the q_contamination split applied
# at the SUBSTRING level. Token 8-gram overlap (q_contamination)
# misses leaks that tokenize differently (whitespace/punctuation
# edits, mid-token truncation); a winnowing fingerprint survives any
# shared run >= WINNOW_K + WINNOW_W - 1 chars regardless of token
# boundaries, at ~2/(W+1) of the gram-index storage. Same CTE shape
# as q_winnowing's oracle (shared constants keep the two in sync).


@register(
    "q_winnowing_contamination",
    oracle=f"""
        WITH pos AS MATERIALIZED (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - {WINNOW_K - 1}))
                       AS i
            FROM documents
            WHERE length(text) >= {WINNOW_K}
        ),
        grams AS MATERIALIZED (
            SELECT doc_id, i,
                   list_reduce(
                       list_prepend(0::BIGINT, list_transform(
                           string_split(substr(text, i, {WINNOW_K}), ''),
                           c -> ascii(c)::BIGINT)),
                       (acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD}) AS h
            FROM pos
        ),
        mins AS MATERIALIZED (
            SELECT DISTINCT doc_id, fp FROM (
                SELECT doc_id,
                       min(h) OVER w AS fp,
                       count(*) OVER w AS wn
                FROM grams
                WINDOW w AS (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN CURRENT ROW
                             AND {WINNOW_W - 1} FOLLOWING)
            ) WHERE wn = {WINNOW_W}
        ),
        probe AS (SELECT DISTINCT fp FROM mins
                  WHERE doc_id % {PROBE_MOD} = 0),
        corpus AS (SELECT doc_id, fp FROM mins
                   WHERE doc_id % {PROBE_MOD} <> 0)
        SELECT doc_id, count(*) AS n_fp_overlap
        FROM corpus JOIN probe USING (fp)
        GROUP BY doc_id
    """,
    doc="Substring-level decontamination: corpus docs sharing a "
    "winnowing fingerprint (any >=23-char verbatim run) with the "
    "probe set — catches leaks token n-grams miss.",
)
def q_winnowing_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus docs sharing >=1 winnowing-selected fingerprint with
    the held-out probe split, with the distinct-fingerprint overlap
    count — q_contamination's substring-robust twin.

    r11 plan (VERDICT r10 'Wrong' #2): BOTH sides now come off the
    PERSISTED fingerprint index (operators/winnow_index.py) — the
    char-gram kernel, formerly this query's entire 4.26 s cost, runs
    once per corpus compaction, not per decontamination pass. The
    probe split's distinct fingerprints stage once (static benchmark,
    churning corpus) and BROADCAST, size-gated by the stage write's
    own footer count; the corpus side is a PARTITION-PRUNED index
    read (only the probe fingerprints' buckets are scanned) into the
    broadcast hash join — corpus fingerprints never shuffle, only
    matches reach the aggregation exchange. No df cap on this one:
    join fan-out is bounded by the PROBE's fingerprint set, and a
    boilerplate fingerprint shared with the probe IS contamination
    evidence for exactly the run the guarantee covers."""
    from mapreduceapp_spark.operators.index_layout import index_slot
    from mapreduceapp_spark.operators.winnow_index import (
        probe_winnow_index,
        read_winnow_index,
        write_winnow_index,
    )
    from mapreduceapp_spark.plans.hints import broadcast_if_small
    from mapreduceapp_spark.plans.staging import slot, staged_row_count

    idx_path = index_slot(
        spark, "winnow_index", sf_dir, "documents", write_winnow_index
    )
    idx = read_winnow_index(spark, idx_path)
    probe = slot(
        spark,
        "winnow_probe_fps",
        sf_dir,
        lambda: idx.filter(F.col("doc_id") % PROBE_MOD == 0)
        .select("fp")
        .distinct(),
    )
    corpus = probe_winnow_index(spark, idx_path, probe).filter(
        F.col("doc_id") % PROBE_MOD != 0
    )
    # the broadcast is size-GATED, not assumed: the stage write's own
    # footers measure the probe fingerprint set for free, so a
    # corpus-scale probe split falls back to a shuffle join instead
    # of an unbounded broadcast (ADVICE r10)
    n_probe = staged_row_count(probe)
    gated = broadcast_if_small(
        probe, n_probe if n_probe is not None else probe.count()
    )
    return (
        corpus.join(gated, "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fp_overlap"))
    )
