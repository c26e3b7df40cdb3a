"""Rewrite guard: the SQL-string expression forms that replaced the
hot Column-API constructions (functions/vectors.py SQL forms,
_aniso_from, _opq_permute, _l2_normalize, band_key_array,
word_grams_sql, hash_bucket_sql) must stay schema- AND value-identical
to the Column forms they replaced. The Column originals are
reconstructed verbatim here so a future edit to either side that
breaks parity fails loudly instead of silently shifting an oracle
hash.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduceapp_spark.functions.vectors import (
    QUANT_SCALE,
    cosine_sql,
    dot_sql,
)
from mapreduceapp_spark.operators import similarity as S
from mapreduceapp_spark.sources import tables


# The Column-API forms the SQL strings replaced, verbatim.
def quantize(vec):
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(
        v, lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long")
    )


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sq_norm(a):
    return dot(a, a)


def cosine(dot_ab, sq_a, sq_b):
    return dot_ab.cast("double") / F.sqrt(
        sq_a.cast("double") * sq_b.cast("double")
    )


def midsquare(a, b):
    h = (a + b) % S.ANISO_PREMOD
    return (h * h) % S.ANISO_SQMOD


def pq_sub_dist(vec, m):
    return F.aggregate(
        F.zip_with(
            F.slice(vec, m * S.PQ_SUBDIM + 1, S.PQ_SUBDIM),
            F.col("cv"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def word_grams(words, n):
    if n >= 4:
        shifted = [
            F.slice(words, k + 1, F.greatest(F.size(words) - k, F.lit(0)))
            for k in range(n)
        ]
        grams = F.transform(
            F.arrays_zip(*shifted),
            lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]),
        )
    else:
        grams = words
        for k in range(1, n):
            shifted = F.slice(words, k + 1, F.greatest(F.size(words) - k, F.lit(0)))
            grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(
        F.size(words) >= n, F.slice(grams, 1, F.size(words) - n + 1)
    ).otherwise(F.array().cast("array<string>"))


def hash_bucket(key, buckets=100, salt=""):
    h = F.sha2(F.concat(F.lit(salt), key.cast("string")), 256)
    code = (
        F.ascii(F.substring(h, 1, 1)) * 31 + F.ascii(F.substring(h, 2, 1))
    ) * 31 + F.ascii(F.substring(h, 3, 1))
    return code % buckets


def _rows(df):
    return sorted(map(str, df.collect()))


def test_vector_sql_forms_match_column_forms(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    old = emb.select("vec_id", quantize("embedding").alias("qv")).withColumn(
        "sq", sq_norm(F.col("qv"))
    )
    new = S._quantized(spark, sf_dir)
    assert old.schema == new.schema
    assert _rows(old) == _rows(new)
    # cosine/dot string twins over a self-join slice
    q = old.limit(20)
    o2 = q.alias("a").crossJoin(q.alias("b")).select(
        cosine(
            dot(F.col("a.qv"), F.col("b.qv")), F.col("a.sq"), F.col("b.sq")
        ).alias("c")
    )
    n2 = q.selectExpr("qv AS aqv", "sq AS asq").crossJoin(
        q.selectExpr("qv AS bqv", "sq AS bsq")
    ).selectExpr(f"{cosine_sql(dot_sql('aqv', 'bqv'), 'asq', 'bsq')} AS c")
    assert o2.schema == n2.schema
    assert _rows(o2) == _rows(n2)


def test_aniso_sql_form_matches_column_form(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings

    def old_aniso_from(e):
        vid = F.col("vec_id")
        j_seq = F.sequence(
            F.lit(0).cast("long"), (F.size("embedding") - 1).cast("long")
        )
        g = (
            midsquare((vid + 1) * S.ANISO_GMUL, F.lit(S.ANISO_GSEED))
            % S.ANISO_CLUSTERS
        )
        qv = F.transform(
            j_seq,
            lambda j: (
                (
                    midsquare(
                        (g + 1) * S.ANISO_MIX_A, (j + 1) * S.ANISO_MIX_BJ
                    )
                    % S.ANISO_SPAN
                    - S.ANISO_HALF
                )
                * S.ANISO_SCALE
                + (
                    midsquare(
                        (vid + 1) * S.ANISO_MIX_C, (j + 1) * S.ANISO_MIX_CJ
                    )
                    % S.ANISO_NOISE_SPAN
                    - S.ANISO_NOISE_HALF
                )
                * F.greatest(
                    F.lit(1),
                    (F.lit(S.ANISO_WNUM) / ((j + 1) * (j + 1))).cast("long"),
                )
            ),
        )
        qv = F.when(F.size("embedding") > 0, qv).otherwise(
            F.array().cast("array<bigint>")
        )
        return e.select("vec_id", qv.alias("qv")).withColumn(
            "sq", sq_norm(F.col("qv"))
        )

    old = old_aniso_from(emb)
    new = S._aniso_from(emb)
    assert old.schema == new.schema
    assert _rows(old) == _rows(new)


def test_opq_and_norm_sql_forms_match_column_forms(spark, sf_dir):
    e = S._aniso(spark, sf_dir)

    def old_opq(frame):
        idx = F.sequence(F.lit(0), F.lit(S._OPQ_DIM - 1))
        permuted = F.transform(
            idx,
            lambda i: F.element_at(
                F.col("qv"),
                (
                    (i % S.PQ_M) * S.PQ_SUBDIM
                    + (i / S.PQ_M).cast("long")
                    + 1
                ).cast("int"),
            ),
        )
        qv = F.when(F.size("qv") == S._OPQ_DIM, permuted).otherwise(
            F.col("qv")
        )
        return frame.select("vec_id", qv.alias("qv")).withColumn(
            "sq", sq_norm(F.col("qv"))
        )

    def old_norm(frame):
        nqv = F.transform(
            F.col("qv"),
            lambda x: F.round(
                x.cast("double")
                * S.NORM_SCALE
                / F.sqrt(F.greatest(F.col("sq"), F.lit(1)).cast("double"))
            ).cast("long"),
        )
        return frame.select("vec_id", nqv.alias("qv")).withColumn(
            "sq", sq_norm(F.col("qv"))
        )

    oo, no = old_opq(e), S._opq_permute(e)
    assert oo.schema == no.schema
    assert _rows(oo) == _rows(no)
    on, nn = old_norm(e), S._l2_normalize(e)
    assert on.schema == nn.schema
    assert _rows(on) == _rows(nn)


def test_band_key_sql_form_matches_column_form(spark, sf_dir):
    from mapreduceapp_spark.operators import dedup as D

    sh = D._doc_shingles_with_minhash(spark, sf_dir).limit(50)
    old = sh.select(
        "doc_id",
        F.array(
            *[
                F.xxhash64(
                    F.lit(b), F.slice("sig", b * D.LSH_ROWS + 1, D.LSH_ROWS)
                )
                for b in range(D.LSH_BANDS)
            ]
        ).alias("bk"),
    )
    new = sh.select("doc_id", D.band_key_array().alias("bk"))
    assert old.schema == new.schema
    assert _rows(old) == _rows(new)


def test_word_grams_sql_matches_column_form(spark):
    from mapreduceapp_spark.functions.text import tokens_sql
    from mapreduceapp_spark.operators.llmprep import word_grams_sql

    df = spark.createDataFrame(
        [("a b c d e f g h i j",), ("x y",), ("",), ("one",)],
        "text string",
    )
    base = df.selectExpr(f"{tokens_sql('text')} AS w")
    for n in (2, 3, 8, 16):
        old = base.select(word_grams(F.col("w"), n).alias("g"))
        new = base.selectExpr(f"{word_grams_sql('w', n)} AS g")
        assert old.schema == new.schema, n
        assert old.collect() == new.collect(), n


def test_hash_bucket_sql_matches_column_form(spark, sf_dir):
    from mapreduceapp_spark.operators.curation import hash_bucket_sql

    d = tables(spark, sf_dir).documents.limit(200)
    old = d.select(
        "doc_id", hash_bucket(F.col("doc_id"), 4096, "order:").alias("b")
    )
    new = d.selectExpr(
        "doc_id", f"{hash_bucket_sql('doc_id', 4096, 'order:')} AS b"
    )
    assert old.schema == new.schema
    assert _rows(old) == _rows(new)


def test_pq_sub_dist_sql_matches_column_form(spark, sf_dir):
    e = S._quantized(spark, sf_dir)
    cent_m = S._pq_centroid_slices(e, 8, 7)
    base = e.limit(30).crossJoin(cent_m)
    old = base.select(
        "vec_id", "m", "j",
        pq_sub_dist(F.col("qv"), F.col("m")).alias("d"),
    )
    new = base.selectExpr(
        "vec_id", "m", "j", f"{S._pq_sub_dist_sql('qv')} AS d"
    )
    assert old.schema == new.schema
    assert _rows(old) == _rows(new)
