"""The UDF surface — the reference's client interface, Spark-native.

The reference's entire programmability story is two user hooks:
``map(k1, v1, ctx)`` emitting 0..n intermediate pairs via ``emit2``
(``MapReduceClient.h:55-59``) and ``reduce(group, ctx)`` over a
complete key group via ``emit3`` (``MapReduceClient.h:61-64``).
This module exposes the same trio in Spark terms:

- generator map  → ``mapInPandas`` (Arrow-batched, 1 row → n rows);
- grouped reduce → ``groupBy(...).applyInPandas`` (complete group,
  exactly the contract the reference *promises* — and sometimes
  breaks, SURVEY.md §8 Q3; Spark's groups are always complete);
- scalar UDF     → ``pandas_udf`` for per-row logic.

``run_mapreduce`` is the generic harness (the analog of
``startMapReduceJob``, ``MapReduceFramework.h:18-20``);
``q_mr_charcount`` re-runs the reference's packaged char-count app
(``SampleClient.cpp:32-66``) through it and hash-matches the same
oracle as the built-in ``q_charcount`` — proving the UDF path and
the codegen path agree.

Scale posture: Pandas UDFs move data JVM→Arrow→Python and back, so
they are reserved for logic built-ins can't express; the map stage
pre-aggregates within each batch (the reference's per-thread combine
analog) so the shuffle carries partial aggregates, not raw emits.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from mapreduceapp_spark.functions.text import TOKEN_SPLIT_RE, oracle_tokens
from mapreduceapp_spark.plans.registry import register
from mapreduceapp_spark.sources import spread_table


def run_mapreduce(
    df: DataFrame,
    map_fn: Callable[[pd.DataFrame], pd.DataFrame],
    map_schema: str,
    key_cols: list[str],
    reduce_fn: Callable[[pd.DataFrame], pd.DataFrame],
    out_schema: str,
) -> DataFrame:
    """Generic MapReduce job over a DataFrame (the client-API analog).

    ``map_fn``: one pandas batch in → any number of (key, value) rows
    out (the ``emit2`` contract). ``reduce_fn``: the complete group
    for one key in → output rows (the ``emit3`` contract). Spark
    inserts the shuffle (the reference's sort+shuffle phases,
    ``MapReduceFramework.cpp:102-163``) between them; barriers are
    implicit stage boundaries.
    """

    def map_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = map_fn(pdf)
            if len(out):
                yield out

    mapped = df.mapInPandas(map_batches, schema=map_schema)
    return mapped.groupBy(*key_cols).applyInPandas(
        lambda g: reduce_fn(g), schema=out_schema
    )


_CHARCOUNT_ORACLE = """
        SELECT c, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, '')) AS c FROM documents)
        WHERE c <> ''
        GROUP BY c
    """


@register(
    "q_mr_charcount",
    oracle=_CHARCOUNT_ORACLE,
    doc="Reference char-count app run through the generic map/reduce UDF harness.",
)
def q_mr_charcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's packaged application (``SampleClient.cpp:32-66``)
    expressed as user code against :func:`run_mapreduce`.

    map: per-batch char histogram (pre-aggregated — the shuffle sees
    one row per (batch, char), the per-thread-combine analog);
    reduce: sum partial counts per char. Oracle-identical to the
    codegen q_charcount, so the UDF and built-in paths cross-check.
    """
    d = spread_table(spark, sf_dir, "documents").select("text")

    def map_chars(pdf: pd.DataFrame) -> pd.DataFrame:
        counts: dict[str, int] = {}
        for text in pdf["text"]:
            for ch in text:
                counts[ch] = counts.get(ch, 0) + 1
        return pd.DataFrame(
            {"c": list(counts.keys()), "partial": list(counts.values())}
        )

    def reduce_chars(g: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"c": [g["c"].iloc[0]], "cnt": [int(g["partial"].sum())]})

    return run_mapreduce(
        d,
        map_chars,
        "c string, partial long",
        ["c"],
        reduce_chars,
        "c string, cnt long",
    )


_TOKEN_RE = re.compile(TOKEN_SPLIT_RE)
STOPWORDS = ("the", "a", "of", "is", "and")


@register(
    "q_udf_quality",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, n_chars, {oracle_tokens('text')} AS tk
            FROM documents
        )
        SELECT doc_id,
               len(tk) AS n_tokens,
               len(list_distinct(tk)) AS n_uniq,
               len(list_filter(tk, x -> x IN {STOPWORDS!r})) AS n_stop,
               (len(list_distinct(tk)) * 10000) // len(tk) AS uniq_x10000,
               n_chars // greatest(len(tk), 1) AS chars_per_token
        FROM toks
    """,
    doc="Text-quality scoring via an Arrow-vectorized pandas scalar UDF (C4).",
)
def q_udf_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals a training-data pipeline filters on: token
    count, vocabulary richness, stopword count, chars/token.

    Demonstrates the scalar ``pandas_udf`` path (Arrow batches, one
    Python roundtrip, ~10-100× faster than row-at-a-time UDFs). All
    outputs are exact integers (ratios scaled via integer div) so the
    SQL oracle matches bit-for-bit — the float-rounding trap in
    cross-engine UDF checks is designed out. The tokenizer regex is
    byte-identical to the oracle's regexp_split_to_array.
    """
    d = spread_table(spark, sf_dir, "documents")

    @pandas_udf("array<string>")
    def tokenize(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: [w for w in _TOKEN_RE.split(t.lower()) if w]
        )

    stop_set = set(STOPWORDS)

    @pandas_udf("long")
    def stop_count(tok: pd.Series) -> pd.Series:
        return tok.map(lambda ws: sum(1 for w in ws if w in stop_set))

    with_tok = d.select("doc_id", "n_chars", tokenize("text").alias("tk"))
    return with_tok.select(
        "doc_id",
        F.size("tk").alias("n_tokens"),
        F.size(F.array_distinct("tk")).alias("n_uniq"),
        stop_count("tk").alias("n_stop"),
        F.expr("size(array_distinct(tk)) * 10000L div size(tk)").alias("uniq_x10000"),
        F.expr("n_chars div greatest(size(tk), 1)").alias("chars_per_token"),
    )
