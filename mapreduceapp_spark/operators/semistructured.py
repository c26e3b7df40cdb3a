"""Array / map / JSON operators (B19).

Reference grounding: the reference's values are opaque client
objects (``MapReduceClient.h:15-18``) — nested/semi-structured data
is "supported" only in the sense that client code can hold anything.
Here nesting is first-class: ArrayType/MapType columns with a JVM
higher-order-function library, and JSON parsing via ``from_json`` /
``get_json_object``.

Scale notes: every expression below is codegen'd per-row work in a
narrow stage — no shuffle, no UDF. JSON parsing at 100 TB is CPU-
bound: prefer one ``from_json`` to a typed struct over repeated
``get_json_object`` calls (each call re-parses the string).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduceapp_spark.functions.text import oracle_tokens, tokens_sql
from mapreduceapp_spark.plans.registry import register
from mapreduceapp_spark.sources import tables


@register(
    "q_array_funcs",
    oracle=f"""
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
               list_contains(toks, 'spark') AS has_spark,
               toks[1] AS first_token,
               array_to_string(list_sort(list_distinct(toks)), ' ') AS sorted_vocab
        FROM (SELECT doc_id, {oracle_tokens('text')} AS toks FROM documents)
    """,
    doc="Array higher-order functions over tokenized text (B19).",
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArrayType manipulation: size, distinct, membership, indexing,
    sort — all Catalyst higher-order functions (codegen, zero
    Python). The reference could only do this inside opaque C++
    client values; here the optimizer sees through every step."""
    t = tables(spark, sf_dir)
    toks = F.expr(tokens_sql("text"))
    return t.documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.element_at(toks, 1).alias("first_token"),
        F.array_join(F.array_sort(F.array_distinct(toks)), " ").alias(
            "sorted_vocab"
        ),
    )


@register(
    "q_json_extract",
    oracle="""
        SELECT event_id, event_type,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_from_map,
               json_valid(props) AS is_valid_json
        FROM events
    """,
    doc="JSON extraction: get_json_object + from_json to MapType (B19).",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two JSON access paths over events.props: path extraction
    (get_json_object) and full parse to MapType (from_json) with
    map element access — demonstrating both the quick-scalar and the
    typed-struct route. At scale the from_json route wins when >1
    field is read (single parse)."""
    t = tables(spark, sf_dir)
    props_map = F.from_json(
        F.col("props"), T.MapType(T.StringType(), T.IntegerType())
    )
    return t.events.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        props_map.getItem("k").alias("k_from_map"),
        F.get_json_object("props", "$").isNotNull().alias("is_valid_json"),
    )
