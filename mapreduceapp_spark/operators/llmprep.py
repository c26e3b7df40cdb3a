"""LLM training-data preparation operators (SURVEY.md §2.C family).

Beyond the §2.C rows, these are the remaining operations a
large-scale pretraining-data pipeline runs corpus-wide: benchmark
decontamination, n-gram statistics, lexical relevance ranking
(BM25), domain-mixture sampling, and intra-document repetition
filtering. The reference has no analog (its operator surface is
A1–A9, ``MapReduceFramework.cpp:1-383``); these follow the same
engine conventions as the rest of the §2.C surface: declarative
plans, broadcast-not-shuffle for small sides, and outputs that are
integer-exact (or explicitly rounded scalars) so every query
hash-matches its DuckDB oracle.

Shared determinism rules (see memory of functions/numeric.py):
- counts/flags are integers end-to-end; threshold comparisons are
  integer cross-multiplications, never float ratios;
- the only floats are final ``round(x, 4)`` columns;
- ranking over floats always ranks on the ROUNDED value with an id
  tiebreak, so a last-ulp engine difference cannot flip an order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceapp_spark.functions.text import oracle_tokens, tokens_sql
from mapreduceapp_spark.operators.curation import oracle_hash_bucket
from mapreduceapp_spark.operators.text import PROBE_MOD
from mapreduceapp_spark.plans.registry import register
from mapreduceapp_spark.plans.staging import slot
from mapreduceapp_spark.sources import spread_table, tables

# ---------------------------------------------------------------- helpers

CONTAM_NGRAM = 8  # word 8-grams: standard decontamination unit

BM25_TERMS = ("spark", "join", "window", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10

MIX_BUCKETS = 100  # house hash_bucket_sql granularity (±1% rate resolution)
MIX_BUDGET_NUM, MIX_BUDGET_DEN = 1, 2  # keep ~half the corpus tokens

REP_NGRAM = 3
REP_MAX_PCT = 5  # flag docs with >5% repeated 3-grams


def word_grams_sql(w: str, n: int) -> str:
    """Space-joined word n-grams of the array<string> column ``w``
    (empty when the doc has fewer than n words) — the one Spark form,
    a SQL string spliced into ``selectExpr``; :func:`_oracle_grams`
    is its DuckDB renderer. Pure codegen, no UDF.

    Two codegen strategies, picked by n (both measured at sf0.1):

    - n <= 3: a ``zip_with`` chain — gram_k = zip(gram_{k-1},
      words[k:]). The obvious ``transform(sequence(...), i ->
      array_join(slice(words, i, k)))`` form re-slices the array per
      index: measured 6.9 s vs 0.9 s for the 3-gram repetition scan.
    - n >= 4: one ``arrays_zip`` of the n shifted arrays + a single
      ``concat_ws`` per gram. The chain copies each growing prefix
      string at every step (O(n·k) chars per gram); the single-pass
      form writes each gram's chars exactly once — 1.87 s vs 2.55 s
      for the 8-gram decontamination scan. At n <= 3 the chain's
      shorter codegen wins (0.76 vs 0.87 s at n=2); the crossover is
      where prefix re-copying starts to dominate.

    Both ``zip_with`` and ``arrays_zip`` pad to the LONGEST input
    with nulls (``concat_ws`` skips them), so the tail of the zipped
    array carries partial grams — correctness relies on the final
    ``slice(grams, 1, size − n + 1)`` trimming that tail to exactly
    the len−n+1 full grams."""
    if n >= 4:
        shifted = [
            f"slice({w}, {k + 1}, greatest(size({w}) - {k}, 0))"
            for k in range(n)
        ]
        fields = ", ".join(f"s.`{i}`" for i in range(n))
        grams = (
            f"transform(arrays_zip({', '.join(shifted)}),"
            f" s -> concat_ws(' ', {fields}))"
        )
    else:
        grams = w
        for k in range(1, n):
            sh = f"slice({w}, {k + 1}, greatest(size({w}) - {k}, 0))"
            grams = f"zip_with({grams}, {sh}, (a, b) -> concat_ws(' ', a, b))"
    return (
        f"CASE WHEN size({w}) >= {n}"
        f" THEN slice({grams}, 1, size({w}) - {n} + 1)"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )


# (doc_id, w) token lists: the ``toks`` CTE the gram oracles read
_ORACLE_WORDS = f"SELECT doc_id, {oracle_tokens('text')} AS w FROM documents"


def _oracle_grams(n: int) -> str:
    """DuckDB twin of :func:`word_grams_sql` + unnest, over CTE ``toks``."""
    return f"""
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(w) - {n - 1}, 0)),
                   i -> array_to_string(w[i:i+{n - 1}], ' '))) AS gram
        FROM toks
    """


# ------------------------------------------------- benchmark decontamination


@register(
    "q_contamination",
    oracle=f"""
        WITH toks AS MATERIALIZED ({_ORACLE_WORDS}),
        g AS MATERIALIZED ({_oracle_grams(CONTAM_NGRAM)}),
        probe AS (SELECT DISTINCT gram FROM g WHERE doc_id % {PROBE_MOD} = 0),
        corpus AS (SELECT DISTINCT doc_id, gram FROM g
                   WHERE doc_id % {PROBE_MOD} <> 0)
        SELECT doc_id, count(*) AS n_overlap
        FROM corpus JOIN probe USING (gram)
        GROUP BY doc_id
    """,
    doc="Benchmark decontamination: corpus docs sharing 8-grams with the probe set.",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training documents that share any word 8-gram with a
    held-out benchmark ("probe") set — the decontamination pass every
    serious pretraining pipeline runs before training.

    Probe set = every {PROBE_MOD}th doc (stands in for an eval benchmark);
    output = every other doc that contains at least one probe
    8-gram, with the count of distinct overlapping grams.

    Scale shape: the probe side is benchmark-sized (tiny vs the
    corpus), so its distinct 8-grams BROADCAST; the corpus side is a
    map-only explode → broadcast hash join → one aggregation keyed
    by doc_id. The corpus' n-grams are never shuffled — only the
    matching (doc, gram) rows reach the exchange, and 8-gram
    collisions are near-nonexistent between genuinely different
    docs, so the shuffle is a few rows per contaminated doc. At
    100 TB this is one corpus scan + a benchmark-sized broadcast.
    """
    d = tables(spark, sf_dir).documents
    # The probe and corpus branches consume DISJOINT doc subsets
    # (doc_id % 7), so a shared gram table saves no gram work — each
    # doc's 8-grams are built in exactly one branch. Filtering doc_id
    # BELOW the gram build pushes the predicate into each branch's
    # parquet scan. The PROBE side is staged: the benchmark set is
    # static while the training corpus churns, so a production
    # decontamination pass derives the probe grams once and re-reads
    # them per corpus shard — the same once-per-process shape
    # stage() gives the bench here (bounded temp-parquet, not the
    # session-lifetime persist round 2 leaked).
    grams = lambda docs: docs.selectExpr(  # noqa: E731 — local fragment
        "doc_id", f"{tokens_sql('text')} AS w"
    ).selectExpr(
        "doc_id",
        f"explode(array_distinct({word_grams_sql('w', CONTAM_NGRAM)}))"
        " AS gram",
    )
    probe = slot(
        spark,
        "contam_probe_grams",
        sf_dir,
        lambda: grams(d.filter(F.col("doc_id") % PROBE_MOD == 0))
        .select("gram")
        .distinct(),
    )
    # spread the corpus branch (r17): the fixture corpus is one sub-
    # split parquet file, so the tokenize→8-gram→join pipeline ran as
    # ONE task (measured 1.9 s single-task stage); spread_table
    # round-robins the raw rows across the cluster first — a no-op at
    # production input sizes (see sources/parquet.py)
    corpus = grams(
        spread_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % PROBE_MOD != 0
        )
    )
    return (
        corpus.join(F.broadcast(probe), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


# ----------------------------------------------------------- n-gram counts


NGRAM_TOPK = 20


@register(
    "q_ngram_counts",
    oracle=f"""
        WITH toks AS MATERIALIZED ({_ORACLE_WORDS}),
        g2 AS ({_oracle_grams(2)}),
        g3 AS ({_oracle_grams(3)}),
        counts AS (
            SELECT 2 AS n, gram, count(*) AS cnt FROM g2 GROUP BY gram
            UNION ALL
            SELECT 3 AS n, gram, count(*) AS cnt FROM g3 GROUP BY gram
        ),
        ranked AS (
            SELECT n, gram, cnt,
                   row_number() OVER (PARTITION BY n
                                      ORDER BY cnt DESC, gram) AS rnk
            FROM counts
        )
        SELECT n, gram, cnt, rnk FROM ranked WHERE rnk <= {NGRAM_TOPK}
    """,
    doc="Corpus n-gram LM counts: top-20 word bigrams and trigrams.",
)
def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide n-gram statistics (the counting half of a count-
    based LM / the frequency tables quality heuristics read): top-20
    bigrams and trigrams by frequency, deterministic (count desc,
    gram asc) order.

    Scale shape: explode → groupBy(gram) with map-side partial
    aggregation (the combiner carries one row per distinct gram per
    partition, not one per occurrence), then a top-k window over the
    small aggregated side, partitioned by n — two shuffles, both on
    aggregated data. Natural-language gram distributions are zipfian;
    the partial agg absorbs the head, and no single reducer key
    exceeds the most frequent gram's distinct-partition count.
    """
    d = spread_table(spark, sf_dir, "documents")
    toks = d.selectExpr(f"{tokens_sql('text')} AS w")
    parts = []
    for n in (2, 3):
        grams = toks.selectExpr(
            f"explode({word_grams_sql('w', n)}) AS gram"
        )
        parts.append(
            grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .selectExpr(f"{n} AS n", "gram", "cnt")
        )
    counts = parts[0].unionByName(parts[1])
    return (
        counts.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY n"
            " ORDER BY cnt DESC, gram ASC) AS rnk",
        )
        .filter(f"rnk <= {NGRAM_TOPK}")
        .select("n", "gram", "cnt", "rnk")
    )


# ------------------------------------------- exact-substring passage dedup

# Window length and pair threshold for verbatim-passage detection: a
# 16-token window is long enough that cross-document recurrence means
# real shared text, not chance (measured max window df is 4 at sf0.1
# on this corpus — no stopword-gram blow-up at this length), and ≥5
# shared windows ≈ a ≥20-token verbatim run.
PASSAGE_NGRAM = 16
PASSAGE_MIN_SHARED = 5

# Per-window document-frequency cap (same number and argument as
# :data:`~mapreduceapp_spark.operators.dedup.LSH_BUCKET_CAP`): the
# self-join's fan-out per window hash is df·(df−1)/2, and a 16-token
# run shared by MORE than ~1k documents is boilerplate (license
# headers, navigation chrome, legal footers) — it identifies a
# template, not a duplicated passage, and on a web-scale corpus its
# df can reach the millions (10¹² pairs from one window). Over-cap
# windows are dropped from pairing in BOTH engines, so the oracle
# hash check stays exact. Enforced as a window count over the same
# gh partitioning the self-join shuffles on anyway (the LSH
# bucket-cap discipline, dedup.py ``_capped_band_entries`` — no
# standalone aggregate pass). Never binds at test scales: measured
# max df is 3 at sf0.01 and 4 at sf0.1 (256× headroom, asserted in
# tests/test_llmprep.py).
PASSAGE_DF_CAP = 1024


def duplicate_passage_pairs(
    spark: SparkSession,
    sf_dir: str,
    *,
    cap: int = PASSAGE_DF_CAP,
    min_shared: int = PASSAGE_MIN_SHARED,
) -> DataFrame:
    """Doc pairs sharing ≥ ``min_shared`` distinct verbatim
    :data:`PASSAGE_NGRAM`-token windows, ignoring windows whose
    document frequency exceeds ``cap`` (boilerplate). Parameterized
    so tests can plant a tiny cap; the registered query binds the
    production constants.

    The capped window set is materialized through a ``stage()`` slot:
    the self-join's two branches would otherwise each re-run the
    tokenize → 16-gram explode → distinct → df-window lineage (the
    expensive part — the corpus scan and the text explode), measured
    4.4 s warm vs 1.1 s staged at sf0.1."""
    d = spread_table(spark, sf_dir, "documents")
    g = slot(
        spark,
        "passage_windows",
        f"{sf_dir}|{cap}",  # cap changes the staged plan (tests pin tiny caps)
        lambda: d.selectExpr("doc_id", f"{tokens_sql('text')} AS w")
        .selectExpr(
            "doc_id",
            f"explode({word_grams_sql('w', PASSAGE_NGRAM)}) AS gram",
        )
        .selectExpr("doc_id", "sha2(gram, 256) AS gh")
        .distinct()
        .selectExpr("*", "count(1) OVER (PARTITION BY gh) AS df")
        .filter(f"df <= {cap}")
        .drop("df"),
    )
    gb = g.selectExpr("doc_id AS doc_b", "gh")
    return (
        g.join(gb, "gh")
        .filter("doc_id < doc_b")
        .groupBy(F.col("doc_id").alias("doc_a"), F.col("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_windows"))
        .filter(F.col("shared_windows") >= min_shared)
    )


@register(
    "q_duplicate_passages",
    oracle=f"""
        WITH toks AS MATERIALIZED ({_ORACLE_WORDS}),
        g AS (
            SELECT doc_id, gh FROM (
                SELECT DISTINCT doc_id, sha256(gram) AS gh
                FROM ({_oracle_grams(PASSAGE_NGRAM)})
            )
            QUALIFY count(*) OVER (PARTITION BY gh) <= {PASSAGE_DF_CAP}
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS shared_windows
            FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, shared_windows
        FROM pairs WHERE shared_windows >= {PASSAGE_MIN_SHARED}
    """,
    doc="Exact-substring passage dedup: doc pairs sharing ≥5 verbatim "
    "16-token windows (cross-document boilerplate/quotation detector); "
    "windows with df > 1024 dropped as boilerplate in both engines.",
)
def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim-passage overlap between documents — the
    exact-substring half of training-data dedup (the technique behind
    suffix-array passage dedup in published pipelines): two docs
    sharing ≥ PASSAGE_MIN_SHARED distinct 16-token windows contain a
    near-verbatim run the shingle-Jaccard detectors can miss when the
    surrounding documents differ (quotation, syndicated boilerplate,
    license headers).

    Plan shape: explode per-doc 16-token windows → DISTINCT (doc,
    window-hash) — the shuffle key is sha256 of the window (32 bytes,
    the q_exact_dedup convention: never shuffle passage TEXT) — then
    the :data:`PASSAGE_DF_CAP` boilerplate filter as a window count
    over the SAME gh partitioning the following equi-self-join
    shuffles on (one exchange serves both), and one pair-keyed
    count. Post-cap fan-out per window is ≤ cap²/2 and in practice
    df ≤ 4 at measured scales; the cap is what bounds the plan on a
    boilerplate-heavy web corpus, where uncapped df² on a shared
    license header alone is quadratic in corpus size. A suffix-array
    build is the single-node alternative; this is the distributed,
    oracle-checkable form.
    """
    return duplicate_passage_pairs(spark, sf_dir)


# ------------------------------------------------------------------- BM25


@register(
    "q_bm25",
    oracle=f"""
        WITH toks AS MATERIALIZED ({_ORACLE_WORDS}),
        tf AS MATERIALIZED (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest(w) AS term FROM toks)
            WHERE term IN {BM25_TERMS!r}
            GROUP BY doc_id, term
        ),
        dl AS MATERIALIZED (SELECT doc_id, len(w) AS dl FROM toks),
        stats AS MATERIALIZED (
            SELECT count(*) AS n_docs, CAST(sum(len(w)) AS BIGINT) AS total_dl
            FROM toks
        ),
        idf AS MATERIALIZED (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   ln(1 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
                   * (tf.tf * ({BM25_K1} + 1))
                   / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B}
                      * (dl.dl / (CAST(stats.total_dl AS DOUBLE)
                                  / stats.n_docs)))) AS score
            FROM tf
            JOIN dl ON dl.doc_id = tf.doc_id
            JOIN idf ON idf.term = tf.term
            CROSS JOIN stats
        ),
        ranked AS (
            SELECT doc_id, term, tf, round(score, 4) AS score,
                   row_number() OVER (PARTITION BY term
                                      ORDER BY round(score, 4) DESC,
                                               doc_id) AS rnk
            FROM scored
        )
        SELECT term, doc_id, tf, score, rnk
        FROM ranked WHERE rnk <= {BM25_TOPK}
    """,
    doc="BM25 lexical ranking: top-10 docs per query term.",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scores (k1=1.2, b=0.75) for a fixed query-term
    set, top-10 documents per term — the lexical-retrieval primitive
    of data-curation pipelines (e.g. selecting in-domain documents
    by query relevance).

    Cross-engine float note: every BM25 input (tf, df, N, dl,
    total_dl) is an exact integer and both engines evaluate the
    identical expression tree, so the only nondeterminism source is
    ``ln``, where JVM ``Math.log`` and libm disagree by 1 ulp on
    ~25% of inputs (measured). The output rounds to 4 decimals and
    RANKS ON THE ROUNDED VALUE with a doc_id tiebreak, so a 1-ulp
    drift changes the result only if a true score sits within ~1e-12
    of a 0.00005 boundary (probability ~1e-9 per corpus; verified
    clean at sf 0.001/0.01/0.1).

    Scale shape — ONE corpus scan (round 2 had two): a single
    map-side projection computes per doc both its length and the tf
    of every query term (``size(filter(w, ...))`` per term — the
    term set is tiny and fixed, so this is |terms| vectorized array
    scans, no explode, no doc-keyed shuffle at all). That (doc_id,
    dl, tfs) projection — integers only, no text — is temp-parquet
    staged (plans/staging.py) and feeds all three consumers: the tf
    rows (dl rides along, so the old tf⋈dl join is gone too), the
    one-row corpus stats, and df per term. idf/stats broadcast; the
    final top-k windows over |terms| small partitions.
    """
    d = spread_table(spark, sf_dir, "documents")
    tfs = ", ".join(
        f"named_struct('term', '{t}', 'tf',"
        f" size(filter(w, x -> x = '{t}')))"
        for t in BM25_TERMS
    )
    per_doc = slot(
        spark,
        "bm25_doc_stats",
        sf_dir,
        lambda: d.selectExpr(
            "doc_id", f"{tokens_sql('text')} AS w"
        ).selectExpr("doc_id", "size(w) AS dl", f"array({tfs}) AS tfs"),
    )
    tf = (
        per_doc.selectExpr("doc_id", "dl", "explode(tfs) AS t")
        .selectExpr("doc_id", "dl", "t.term", "t.tf AS tf")
        .filter("tf > 0")
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    )
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # SQL twin of the Column score chain with the IDENTICAL literal
    # folds Python produced (1 - B pre-folds to 0.25; D-suffixed
    # literals stay DOUBLE — bare SQL decimals would become DECIMAL
    # and change the arithmetic)
    score = (
        "ln(1 + (n_docs - df + 0.5D) / (df + 0.5D))"
        f" * (tf * {BM25_K1 + 1!r}D)"
        f" / (tf + {BM25_K1!r}D * ({1 - BM25_B!r}D + {BM25_B!r}D"
        " * (dl / (CAST(total_dl AS DOUBLE) / n_docs))))"
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats))
        .selectExpr("doc_id", "term", "tf", f"round({score}, 4) AS score")
    )
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY term"
            " ORDER BY score DESC, doc_id ASC) AS rnk",
        )
        .filter(f"rnk <= {BM25_TOPK}")
        .select("term", "doc_id", "tf", "score", "rnk")
    )


# -------------------------------------------------------- domain mixture


def _mix_weight_sql(src: str) -> str:
    # weight 1..3 from the numeric suffix of the source name;
    # TRY_CAST + COALESCE so a non-numeric suffix degrades to
    # weight 1 on BOTH engines (a plain CAST would error in DuckDB
    # but yield NULL in Spark — twin divergence)
    return f"(1 + COALESCE(TRY_CAST(substr({src}, 4) AS BIGINT), 0) % 3)"


@register(
    "q_domain_mix",
    oracle=f"""
        WITH doc_tok AS MATERIALIZED (
            SELECT doc_id, source,
                   len({oracle_tokens('text')}) AS ntok
            FROM documents
        ),
        per_src AS MATERIALIZED (
            SELECT source, {_mix_weight_sql('source')} AS w,
                   CAST(sum(ntok) AS BIGINT) AS src_tok
            FROM doc_tok GROUP BY source
        ),
        totals AS MATERIALIZED (
            SELECT CAST(sum(src_tok) AS BIGINT) AS total_tok,
                   CAST(sum(w) AS BIGINT) AS sum_w
            FROM per_src
        ),
        kept AS (
            SELECT d.doc_id, d.source, d.ntok
            FROM doc_tok d
            JOIN per_src s ON s.source = d.source
            CROSS JOIN totals t
            WHERE {oracle_hash_bucket('d.doc_id', MIX_BUCKETS, 'mix:')}
                  * s.src_tok * {MIX_BUDGET_DEN} * t.sum_w
                  < {MIX_BUCKETS} * s.w * t.total_tok * {MIX_BUDGET_NUM}
        )
        SELECT source, count(*) AS n_docs_kept,
               CAST(sum(ntok) AS BIGINT) AS tok_kept
        FROM kept GROUP BY source
    """,
    doc="Domain-mixture sampling: weighted per-source keep-rates hitting a token budget.",
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampling: re-weight the corpus so
    each source contributes tokens proportional to a target weight
    (here 1–3×, derived from the source id), under a global budget of
    half the corpus tokens — the "data mixing" step that turns a raw
    crawl into a training mixture.

    Per-source keep-rate r_s = min(1, budget_s / tokens_s) with
    budget_s = w_s · total_tokens · (1/2) / Σw. A document is kept
    iff its salted hash bucket clears the rate — evaluated as a pure
    INTEGER cross-multiplication (bucket · tokens_s · 2 · Σw <
    MIX_BUCKETS · w_s · total_tokens), so there is no float threshold to
    flicker between engines, and assignment is a pure function of
    doc_id (stable under retries, repartitioning, and subsetting —
    same discipline as q_sample_split).

    Scale shape: one tiny per-source aggregate (|sources| rows) and
    its one-row total, both broadcast back; the keep decision is
    map-only; one final aggregation. Token counts reuse the same
    integer-exact sums the curation pipeline uses. At 100 TB: two
    scans of a two-column projection + a |sources|-row broadcast.
    """
    from mapreduceapp_spark.functions.text import token_count_sql
    from mapreduceapp_spark.operators.curation import hash_bucket_sql

    d = spread_table(spark, sf_dir, "documents")
    doc_tok = d.selectExpr(
        "doc_id", "source", f"{token_count_sql('text')} AS ntok"
    )
    per_src = doc_tok.groupBy("source").agg(
        F.sum("ntok").alias("src_tok")
    ).selectExpr(
        "source",
        "src_tok",
        # unbounded substring + try_cast: stays aligned with the
        # oracle twin for arbitrary-length / non-numeric suffixes
        "1 + coalesce(try_cast(substring(source, 4) AS BIGINT), 0) % 3"
        " AS w",
    )
    totals = per_src.agg(
        F.sum("src_tok").alias("total_tok"), F.sum("w").alias("sum_w")
    )
    kept = (
        doc_tok.join(F.broadcast(per_src), "source")
        .crossJoin(F.broadcast(totals))
        .filter(
            f"{hash_bucket_sql('doc_id', MIX_BUCKETS, 'mix:')}"
            f" * src_tok * {MIX_BUDGET_DEN} * sum_w"
            f" < {MIX_BUCKETS} * w * total_tok * {MIX_BUDGET_NUM}"
        )
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("ntok").alias("tok_kept"),
    )


# ---------------------------------------------------- repetition filtering


@register(
    "q_repetition_filter",
    oracle=f"""
        WITH toks AS MATERIALIZED ({_ORACLE_WORDS}),
        g AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, greatest(len(w) - {REP_NGRAM - 1}, 0)),
                       i -> array_to_string(w[i:i+{REP_NGRAM - 1}], ' ')) AS grams
            FROM toks
        )
        SELECT doc_id,
               len(grams) AS n_grams,
               len(list_distinct(grams)) AS n_distinct,
               CASE WHEN (len(grams) - len(list_distinct(grams))) * 100
                         > len(grams) * {REP_MAX_PCT}
                    THEN 1 ELSE 0 END AS repetitive
        FROM g
    """,
    doc="Intra-document repetition filter: repeated-3-gram ratio per doc.",
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition scoring (the Gopher/C4-style "repeated
    n-gram fraction" quality rule): count total vs distinct word
    3-grams and flag documents whose repeated fraction exceeds 5%.

    The flag is an integer cross-multiplication
    ((n − d) · 100 > n · 5), not a float ratio — exact in both
    engines. Entirely map-side: no explode reaches a shuffle, no
    shuffle at all (the n-gram array lives and dies inside one
    projection); at 100 TB this runs at scan speed alongside the
    other per-doc quality signals.
    """
    d = spread_table(spark, sf_dir, "documents")
    g = word_grams_sql("w", REP_NGRAM)
    return (
        d.selectExpr("doc_id", f"{tokens_sql('text')} AS w")
        .selectExpr(
            "doc_id",
            f"size({g}) AS n_grams",
            f"size(array_distinct({g})) AS n_distinct",
        )
        .selectExpr(
            "doc_id",
            "n_grams",
            "n_distinct",
            f"IF((n_grams - n_distinct) * 100 > n_grams * {REP_MAX_PCT},"
            " 1, 0) AS repetitive",
        )
    )


# ------------------------------------------------- training-order shuffle


SHARD_COUNT = 16


@register(
    "q_training_order",
    oracle=f"""
        WITH ordered AS (
            SELECT doc_id,
                   {oracle_hash_bucket('doc_id', 4096, 'order:')} AS ord_key,
                   ntile({SHARD_COUNT}) OVER (
                       ORDER BY {oracle_hash_bucket('doc_id', 4096, 'order:')},
                                doc_id) AS shard
            FROM documents
        )
        SELECT shard,
               count(*) AS n_docs,
               min(doc_id) AS first_doc,
               max(ord_key) AS max_key
        FROM ordered GROUP BY shard
    """,
    doc="Deterministic global training-order shuffle + equal-size shard split.",
)
def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final step of a data pipeline: give the corpus a
    reproducible pseudo-random training order and cut it into
    equal-size shards for the data loader. Order = salted hash of
    doc_id (stable across runs/retries/subsets — the house split
    discipline), shards = ntile over that global order.

    Scale shape — global rank WITHOUT the single-reducer window: a
    bare ``row_number() over (order by ...)`` drags every row
    through one task. The order key here has bounded cardinality
    (4096 hash values), so the global rank decomposes into
    (1) per-key counts — one tiny aggregate (≤4096 rows), cumulated
    into per-key offsets with a window over that TINY frame only,
    broadcast back; (2) within-key rank — a window PARTITIONED by
    ord_key, which scales across executors with bounded skew
    (≈N/4096 rows per key). rn = offset + within-key rank, exactly
    the unpartitioned window's answer at no bottleneck. The shard
    split then reproduces ntile(k)'s front-loaded fill rule
    arithmetically from exact integers (first N%k shards take
    ⌈N/k⌉ rows, the rest ⌊N/k⌋).

    Output is the per-shard summary (count, first doc, max order
    key) — the observable a loader manifest needs.
    """
    from mapreduceapp_spark.operators.curation import hash_bucket_sql

    d = tables(spark, sf_dir).documents
    ordered = d.selectExpr(
        "doc_id", f"{hash_bucket_sql('doc_id', 4096, 'order:')} AS ord_key"
    )
    # (1) per-key offsets: tiny aggregate; the unpartitioned window
    # below runs over <=4096 rows, not the corpus
    key_counts = ordered.groupBy("ord_key").agg(F.count(F.lit(1)).alias("kc"))
    offsets = key_counts.selectExpr(
        "ord_key",
        "sum(kc) OVER (ORDER BY ord_key ROWS BETWEEN UNBOUNDED"
        " PRECEDING AND CURRENT ROW) - kc AS off",
    )
    n_total = ordered.agg(F.count(F.lit(1)).alias("n")).select("n")
    # (2) within-key rank: partitioned window, scales horizontally
    ranked = (
        ordered.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY ord_key ORDER BY doc_id)"
            " AS krn",
        )
        .join(F.broadcast(offsets), "ord_key")
        .selectExpr("*", "(off + krn) AS rn")
        .crossJoin(F.broadcast(n_total))
    )
    # ntile(k) semantics from exact ints: first N%k shards take
    # ceil(N/k) rows, the rest floor(N/k); floor-division via
    # floor(double) is exact at these magnitudes (<2^53)
    k = SHARD_COUNT
    bigsz = f"(floor(n / {k}) + 1)"
    cut = f"((n % {k}) * {bigsz})"
    shard = (
        f"CASE WHEN rn <= {cut} THEN floor((rn - 1) / {bigsz}) + 1"
        f" ELSE n % {k} + floor((rn - 1 - {cut}) / floor(n / {k})) + 1 END"
    )
    return (
        ranked.selectExpr("*", f"CAST({shard} AS BIGINT) AS shard")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("ord_key").alias("max_key"),
        )
    )


# Unigram-LM quality scoring: micro-nat grid + integer threshold.
# Each token's corpus log-probability is snapped to an integer grid
# (round(ln(p)·1e6) micro-nats) BEFORE any aggregation, so the per-doc
# sum is exact integer arithmetic — immune to float summation order
# (Spark aggregates in partition order, DuckDB in its own; summing raw
# doubles would make the hash check flaky by construction). The keep
# decision compares integers cross-multiplied (sum_lp ≥ thresh·n), so
# it cannot drift either.
#
# avg_lp rounding (ADVICE r7, escape hatch APPLIED round 8): ties in
# round(sum_lp/n/1e6, 4) are NOT measure-zero — the quotient is a
# ratio of integers, so exact .00005 ties occur whenever
# sum_lp·2·10⁴ ≡ n·10⁶ (mod 2n·10⁶); the hypothesis sweep found one
# (sum_lp=-13,593,200, n=8 → exactly -1.69915), where Spark's
# BigDecimal.valueOf(double) rounds the SHORTEST decimal string
# half-up to -1.6992 while C-library round() on the binary double
# (just below the tie) gives -1.6991. The fix is the keep flag's
# integer discipline applied to the presentation column too: the
# 4-decimal value is computed as a pure-integer half-away-from-zero
# division r = sign·((2·|sum_lp| + n·S) div (2·n·S)) with
# S = UNIGRAM_LP_MICRO/10⁴, then r/10⁴ — both engines derive the
# SAME integer r and the same double from it, so no float rounding
# mode is involved anywhere. The threshold sits in the corpus's observed
# score gap (avg_lp concentrates near ln(1/vocab)); docs whose tokens
# are systematically rarer than the corpus average fall below it.
UNIGRAM_LP_MICRO = 1_000_000
# keep iff mean token logprob ≥ -3.45 nats: the corpus concentrates at
# ln(1/vocab) ≈ -3.40 (median -3.4015 at sf0.01) with a rare-token
# tail to -3.70; -3.45 trims the ~4% outlier tail (19/500 at sf0.01)
UNIGRAM_KEEP_MICRO = -3_450_000


@register(
    "q_unigram_logprob",
    oracle=f"""
        WITH t2 AS (
            SELECT doc_id, unnest({oracle_tokens('text')}) AS w FROM documents
        ),
        counts AS (SELECT w, count(*) AS cnt FROM t2 GROUP BY w),
        tot AS (SELECT sum(cnt) AS total FROM counts),
        lp AS (
            SELECT w,
                   CAST(round(ln(cnt::DOUBLE / total) * {UNIGRAM_LP_MICRO})
                        AS BIGINT) AS lp_w
            FROM counts, tot
        )
        ,
        per_doc AS (
            SELECT t2.doc_id,
                   count(*) AS n_toks,
                   CAST(sum(lp_w) AS BIGINT) AS sum_lp
            FROM t2 JOIN lp USING (w)
            GROUP BY t2.doc_id
        )
        SELECT doc_id, n_toks,
               (CASE WHEN sum_lp < 0 THEN -1 ELSE 1 END
                * ((2 * abs(sum_lp) + n_toks * {UNIGRAM_LP_MICRO // 10_000})
                   // (2 * n_toks * {UNIGRAM_LP_MICRO // 10_000})))
               / 10000.0 AS avg_lp,
               CASE WHEN sum_lp >= {UNIGRAM_KEEP_MICRO} * n_toks
                    THEN 1 ELSE 0 END AS keep
        FROM per_doc
    """,
    doc="Unigram-LM quality score per document (mean token log-probability "
    "under the corpus's own unigram model) with an integer-exact keep flag "
    "— the perplexity-style quality filter of LLM data pipelines.",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cheapest LM-based quality filter a pretraining pipeline
    runs: score every document by the mean log-probability of its
    tokens under the corpus's own unigram distribution, and keep
    documents above a threshold. (Real pipelines use a KenLM-style
    n-gram model — the unigram case is the same plan shape with a
    different probability table.)

    Plan shape, 100 TB posture:
    1. token counts — one shuffle whose key space is the vocabulary
       (map-side partial agg, uniform);
    2. one-row total via a broadcast 1-row crossJoin (the stats-join
       convention used across this module);
    3. token → micro-nat logprob is a VOCABULARY-sized dimension
       joined back to the token stream — AQE broadcasts it below the
       threshold, and at web scale a vocabulary is still millions of
       rows against trillions of tokens, so either join strategy
       beats re-deriving;
    4. per-doc integer sum + count — the only doc-keyed shuffle.

    Cross-engine exactness: see the micro-nat note at
    :data:`UNIGRAM_LP_MICRO` — the one ``ln`` evaluation per DISTINCT
    token is grid-snapped before summing, so aggregation order cannot
    change the hash; the residual risk is a 1-ulp ln drift landing
    exactly on a grid boundary (~1e-10 per distinct token, the BM25
    risk class, verified clean at every test scale).
    """
    d = spread_table(spark, sf_dir, "documents")
    toks = d.selectExpr("doc_id", f"explode({tokens_sql('text')}) AS w")
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(F.sum("cnt").alias("total"))
    lp = counts.crossJoin(F.broadcast(tot)).selectExpr(
        "w",
        f"CAST(round(ln(cnt / total) * {UNIGRAM_LP_MICRO}) AS BIGINT)"
        " AS lp_w",
    )
    per_doc = toks.join(lp, "w").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum("lp_w").alias("sum_lp"),
    )
    scale = UNIGRAM_LP_MICRO // 10_000
    # integer half-away-from-zero: r = sign · ((2|a| + b) div 2b) for
    # q = a/b in 1e-4 units — see the UNIGRAM_LP_MICRO note. DIV is
    # integer division on longs in both engines; operands are kept
    # non-negative so truncation direction can't differ.
    return per_doc.selectExpr(
        "doc_id",
        "n_toks",
        "((CASE WHEN sum_lp < 0 THEN -1 ELSE 1 END"
        f" * ((2 * abs(sum_lp) + n_toks * {scale})"
        f" DIV (2 * n_toks * {scale})))"
        " / CAST(10000 AS DOUBLE)) AS avg_lp",
        f"CAST(sum_lp >= {UNIGRAM_KEEP_MICRO} * n_toks AS INT) AS keep",
    )


# Zipf fit: how many top-ranked tokens enter the regression (a
# CONSTANT, so the single-partition ranking step is bounded at any
# corpus size), and the log grid (the UNIGRAM_LP_MICRO discipline:
# one ln per ranked token, snapped to integer micro-nats before any
# aggregation, so no float ever enters a sum).
ZIPF_TOP_K = 500
ZIPF_MICRO = 1_000_000


@register(
    "q_zipf_fit",
    oracle=f"""
        WITH toks AS ({_ORACLE_WORDS}),
        t2 AS (SELECT doc_id, unnest(w) AS w FROM toks),
        counts AS (SELECT w, count(*) AS cnt FROM t2 GROUP BY w),
        topk AS (
            SELECT cnt, w FROM counts
            ORDER BY cnt DESC, w LIMIT {ZIPF_TOP_K}
        ),
        ranked AS (
            SELECT cnt,
                   row_number() OVER (ORDER BY cnt DESC, w) AS rank
            FROM topk
        ),
        xy AS (
            SELECT CAST(round(ln(rank) * {ZIPF_MICRO}) AS BIGINT) AS x,
                   CAST(round(ln(cnt) * {ZIPF_MICRO}) AS BIGINT) AS y
            FROM ranked
        ),
        s AS (
            SELECT CAST(count(*) AS HUGEINT) AS n,
                   sum(CAST(x AS HUGEINT)) AS sx,
                   sum(CAST(y AS HUGEINT)) AS sy,
                   sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
                   sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
            FROM xy
        ),
        f AS (
            SELECT n, sx, sy,
                   n * sxy - sx * sy AS num,
                   n * sxx - sx * sx AS den
            FROM s
        )
        SELECT CAST(n AS BIGINT) AS n_ranked,
               (CASE WHEN num < 0 THEN -1 ELSE 1 END
                * ((2 * abs(num) * 10000 + den) // (2 * den))) / 10000.0
                   AS slope,
               (CASE WHEN sy * den - num * sx < 0 THEN -1 ELSE 1 END
                * ((2 * abs(sy * den - num * sx) * 10000
                    + n * den * {ZIPF_MICRO})
                   // (2 * n * den * {ZIPF_MICRO}))) / 10000.0
                   AS intercept
        FROM f
    """,
    doc="Zipf power-law fit of the token rank-frequency curve: OLS "
    "slope/intercept of ln(freq) vs ln(rank) over the top-500 tokens, "
    "all arithmetic on the integer micro-nat grid.",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health diagnostic every tokenizer/data team runs: fit
    ln(freq) = slope·ln(rank) + intercept over the top-K tokens. A
    natural-language corpus sits near slope ≈ −1 (Zipf's law);
    template-heavy or deduplicated-to-death corpora bend away from
    it, so the slope is a cheap drift alarm on ingestion.

    Plan shape, 100 TB posture: token counts are one vocabulary-key
    shuffle with map-side partials; the top-K cut is
    TakeOrderedAndProject (no global sort — each partition keeps K,
    the driver merges); ranking then runs a single-partition window
    over exactly K = ``ZIPF_TOP_K`` rows — a CONSTANT, so the
    narrow stage is bounded at any corpus size; the regression
    moments reduce to ONE row.

    Cross-engine exactness (the UNIGRAM_LP_MICRO discipline): the
    two ``ln`` evaluations per ranked token are grid-snapped to
    integer micro-nats, every moment (Σx, Σy, Σxy, Σx²) is an exact
    integer sum in decimal(38,0)/HUGEINT — immune to summation
    order — and slope = num/den is presented by the pure-integer
    half-away-from-zero division (the avg_lp fix), so no float
    rounding mode is involved. Residual risk is the documented
    1-ulp-ln-on-a-grid-boundary class, per ranked token (~500
    evaluations, not per row).
    """
    d = spread_table(spark, sf_dir, "documents")
    toks = d.selectExpr(f"explode({tokens_sql('text')}) AS w")
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    topk = counts.orderBy(F.desc("cnt"), F.asc("w")).limit(ZIPF_TOP_K)
    ranked = topk.selectExpr(
        "cnt",
        "row_number() OVER (ORDER BY cnt DESC, w ASC) AS rank",
    )
    dec = "DECIMAL(38,0)"
    xy = ranked.selectExpr(
        f"CAST(round(ln(rank) * {ZIPF_MICRO}) AS BIGINT) AS x",
        f"CAST(round(ln(cnt) * {ZIPF_MICRO}) AS BIGINT) AS y",
    )
    s = xy.agg(
        F.expr(f"CAST(count(1) AS {dec})").alias("n"),
        F.expr(f"sum(CAST(x AS {dec}))").alias("sx"),
        F.expr(f"sum(CAST(y AS {dec}))").alias("sy"),
        F.expr(f"sum(CAST(x AS {dec}) * CAST(y AS {dec}))").alias("sxy"),
        F.expr(f"sum(CAST(x AS {dec}) * CAST(x AS {dec}))").alias("sxx"),
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n_ranked",
        "((CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END"
        " * ((2 * abs(n * sxy - sx * sy) * 10000"
        "     + (n * sxx - sx * sx))"
        "    DIV (2 * (n * sxx - sx * sx))))"
        " / CAST(10000 AS DOUBLE)) AS slope",
        "((CASE WHEN sy * (n * sxx - sx * sx)"
        "          - (n * sxy - sx * sy) * sx < 0"
        " THEN -1 ELSE 1 END"
        " * ((2 * abs(sy * (n * sxx - sx * sx)"
        "             - (n * sxy - sx * sy) * sx) * 10000"
        f"     + n * (n * sxx - sx * sx) * {ZIPF_MICRO})"
        f"    DIV (2 * n * (n * sxx - sx * sx) * {ZIPF_MICRO})))"
        " / CAST(10000 AS DOUBLE)) AS intercept",
    )


@register(
    "q_source_gini",
    oracle="""
        WITH s AS (SELECT source, count(*) AS x FROM documents GROUP BY source),
        r AS (
            SELECT x,
                   row_number() OVER (ORDER BY x, source) AS i,
                   count(*) OVER () AS n,
                   sum(x) OVER () AS tot
            FROM s
        )
        SELECT CAST(max(n) AS BIGINT) AS n_sources,
               CAST(max(tot) AS BIGINT) AS total_docs,
               CAST(sum((2 * i - n - 1) * x) AS BIGINT) AS gini_num,
               CAST(max(n) * max(tot) AS BIGINT) AS gini_den,
               sum((2 * i - n - 1) * x) / (max(n) * max(tot)) AS gini
    FROM r
    """,
    doc="Source-concentration Gini index of the corpus (data-mixing balance metric).",
)
def q_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated the corpus is across sources — the Gini
    index over per-source document counts, the balance number a
    data-mixing dashboard watches (0 = perfectly uniform, →1 = one
    source dominates).

    Uses the mean-absolute-difference form on rank-sorted counts,
    G = Σ(2i − n − 1)·x_i / (n·Σx), which is INTEGER arithmetic up
    to one final division — no float accumulation order to disagree
    on (the numerator/denominator are also emitted as exact ints).
    Rank ties break on source name, so both engines sort
    identically. One aggregation over the corpus produces the
    per-source counts; everything after runs on #sources rows.
    """
    d = tables(spark, sf_dir).documents
    s = d.groupBy("source").agg(F.count(F.lit(1)).alias("x"))
    r = s.selectExpr(
        "x",
        "row_number() OVER (ORDER BY x, source) AS i",
        "count(1) OVER () AS n",
        "sum(x) OVER () AS tot",
    )
    return r.agg(
        F.max("n").alias("n_sources"),
        F.max("tot").alias("total_docs"),
        F.expr("sum((2 * i - n - 1) * x)").alias("gini_num"),
        F.expr("max(n) * max(tot)").alias("gini_den"),
        F.expr("sum((2 * i - n - 1) * x) / (max(n) * max(tot))").alias(
            "gini"
        ),
    )
